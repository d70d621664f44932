package graft

/**
 * DuckDB oracle SQL for every SQL-expressible entry in [[SparkEntry.queries]].
 *
 * The driver's correctness gate runs each of these in DuckDB over the same
 * parquet tables (views named `documents`, `lineitem`, `events`,
 * `embeddings`, ...) at sf0.01, and compares row-sets (columns sorted by
 * name, rows sorted, floats at 1e-9 relative tolerance) against the Spark
 * result. Shared subexpressions are generated from the same constants as the
 * Scala operators (stopword lists, hash parameters), so the two sides cannot
 * drift apart silently.
 *
 * The testdata documents are strictly single-space-separated `[a-z0-9]+`
 * words, so the engine tokenizer's output (including char offsets) is
 * reproducible in SQL as a prefix-sum over word lengths — which is what
 * makes full differential oracles possible for the span operators, not just
 * rows-only checks.
 */
object Oracles {

  /** Rolling-hash of a string expression — mirror of
    * TextAnalysis.portableHash (31-base polynomial mod 2^31-1). */
  def H(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a*31 + b) % 2147483647)"

  /** Base-131 twin of [[H]]; packed with it as `H*P + H131` this mirrors
    * the engine's ~62-bit WideHash fingerprint. */
  def H131(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a*131 + b) % 2147483647)"

  /** Tokens relation with char offsets: doc_id, token_id, "begin", "end",
    * text. Prefix-sum of (len+1) reproduces the tokenizer's offsets because
    * the corpus is single-space-separated words. */
  // NB: the window SUM must be cast to BIGINT — DuckDB integer SUM yields
  // HUGEINT, which pandas renders as float64 ("7.0" vs Spark's "7") and the
  // driver's value hash then mismatches even though the numbers are equal.
  val ToksCte: String =
    """t0 AS (SELECT doc_id, generate_subscripts(ws, 1) - 1 AS token_id, unnest(ws) AS text
      |       FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |toks AS (SELECT doc_id, token_id, text, b AS "begin", b + len(text) AS "end"
      |       FROM (SELECT doc_id, token_id, text,
      |               CAST(coalesce(sum(len(text) + 1) OVER (PARTITION BY doc_id ORDER BY token_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS b
      |             FROM t0))""".stripMargin

  /** Synthetic-IOB entity segments over toks (mirror of the q31 tagging rule
    * + Iob.iobToSpans sessionization). Yields CTE `ents` with filter col
    * `ft` ('B' = real entity). */
  val EntsCte: String =
    """tag AS (SELECT doc_id, token_id, "begin", "end",
      |          CASE WHEN text = 'key' THEN 'B' WHEN text = 'value' THEN 'I' ELSE 'O' END AS iob,
      |          CASE WHEN text = 'key' THEN 'K' END AS typ FROM toks),
      |seg AS (SELECT *, sum(CASE WHEN iob = 'I' THEN 0 ELSE 1 END)
      |          OVER (PARTITION BY doc_id ORDER BY token_id) AS sg FROM tag),
      |ents AS (SELECT doc_id, sg, min(token_id) AS begin_tok, max(token_id) + 1 AS end_tok,
      |           min("begin") AS "begin", max("end") AS "end",
      |           min_by(iob, token_id) AS ft, min_by(typ, token_id) AS ent_type
      |         FROM seg WHERE iob IN ('B', 'I') GROUP BY doc_id, sg)""".stripMargin

  /** q111/q112 shared relation (requires [[ToksCte]] + [[EntsCte]]): q37's
    * agreement counts keyed by (fold, doc_num, char+token span, ent_type)
    * plus `span_str`, the reference Span string form — `[b, e): 'covered'`
    * with textwrap.shorten(·, 80) truncation mirrored as the same
    * substring+strip-last-word construction spans.spanToString compiles to.
    * Yields CTE `cstr`. Deliberately NOT interpolated (the `$`-anchored
    * regexes must stay literal). */
  val CsvPrepCte: String =
    """eb AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'test' END AS fold,
      |    doc_id AS doc_num, begin_tok, end_tok, "begin", "end", ent_type
      |  FROM ents WHERE ft = 'B'),
      |kk AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'test' END AS fold,
      |    doc_id AS doc_num, token_id AS begin_tok, token_id + 1 AS end_tok,
      |    "begin", "end", 'K' AS ent_type
      |  FROM toks WHERE text = 'key'),
      |ll AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'test' END AS fold,
      |    doc_id AS doc_num, token_id AS begin_tok, token_id + 1 AS end_tok,
      |    "begin", "begin" + 200 AS "end", 'L' AS ent_type
      |  FROM toks WHERE text = 'sort'),
      |cu AS (SELECT *, TRUE AS ig, 0 AS c FROM eb
      |  UNION ALL SELECT *, FALSE, 1 FROM eb
      |  UNION ALL SELECT *, FALSE, 1 FROM kk
      |  UNION ALL SELECT *, FALSE, 1 FROM ll),
      |cg AS (SELECT fold, doc_num, begin_tok, end_tok, "begin", "end", ent_type,
      |    CAST(sum(c) AS BIGINT) AS "count", bool_or(ig) AS in_gold
      |  FROM cu GROUP BY fold, doc_num, begin_tok, end_tok, "begin", "end", ent_type),
      |cs AS (SELECT cg.*,
      |    regexp_replace(trim(substr(d.text, "begin" + 1, "end" - "begin")), '\s+', ' ', 'g') AS cc
      |  FROM cg JOIN documents d ON cg.doc_num = d.doc_id),
      |cp AS (SELECT *, rtrim(regexp_replace(substr(cc, 1, 75), '[^ ]*$', '')) AS pfx FROM cs),
      |cstr AS (SELECT *, '[' || "begin" || ', ' || "end" || '): ''' ||
      |    (CASE WHEN len(cc) <= 80 THEN cc
      |          WHEN len(pfx) > 0 THEN pfx || ' [...]'
      |          ELSE '[...]' END) || '''' AS span_str
      |  FROM cp)""".stripMargin

  /** Word list (mirror of TextAnalysis.words). */
  val Words = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  /** BPE learn mirror (Bpe.learn): iteration i re-derived as chained CTEs
    * — pure SQL, no recursion. w0 = distinct-word table with the engine's
    * bracket-encoded symbols ("(h)(i)(_)"); p_i counts adjacent symbol
    * pairs weighted by word freq; b_i picks the (count desc, lhs, rhs)
    * best; w_i applies the merge with the same leftmost non-overlapping
    * replace the engine uses (bracket delimiters make string replace
    * exactly the greedy merge). */
  private def bpeCtes(m: Int): String = {
    val w0 =
      s"""w0 AS MATERIALIZED (SELECT '(' || array_to_string(regexp_extract_all(word, '.'), ')(') || ')(_)' AS enc, freq
         |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS freq
         |        FROM (SELECT unnest($Words) AS word FROM documents) GROUP BY word))""".stripMargin
    val iters = (1 to m).map { i =>
      s"""p$i AS MATERIALIZED (WITH e AS (SELECT string_split(substr(enc, 2, length(enc) - 2), ')(') AS s, freq FROM w${i - 1}),
         |  x AS (SELECT s, freq, unnest(generate_series(1, len(s) - 1)) AS i FROM e)
         |  SELECT s[i] AS l, s[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt FROM x GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |w$i AS MATERIALIZED (SELECT replace(enc, '(' || b$i.l || ')(' || b$i.r || ')', '(' || b$i.l || b$i.r || ')') AS enc, freq
         |  FROM w${i - 1}, b$i)""".stripMargin
    }
    (w0 +: iters).mkString(",\n")
  }

  /** Stub-BERT token relation (mirror of Bert.stubTokenizer over `toks`):
    * wordpiece-ish 4-char chunks per word, CLS=101 first / SEP=102 last,
    * input_id = 1000 + hash(piece) mod 29522. Yields CTE `allt(doc_id,
    * token_id, input_id, "begin", "end")`; requires [[ToksCte]]. */
  val StubBertCte: String =
    s"""pc AS (SELECT doc_id, token_id AS wtid, "begin", "end",
       |    unnest(generate_series(0, CAST(ceil(("end" - "begin")/4.0) - 1 AS BIGINT))) AS i
       |  FROM toks),
       |ps AS (SELECT doc_id, wtid, i, "begin" + i*4 AS pb,
       |    least("begin" + (i+1)*4, "end") AS pe FROM pc),
       |pt AS (SELECT p.doc_id, p.wtid, p.i, p.pb, p.pe,
       |    substr(d.text, CAST(p.pb + 1 AS BIGINT), CAST(p.pe - p.pb AS BIGINT)) AS piece
       |  FROM ps p JOIN documents d ON p.doc_id = d.doc_id),
       |pi AS (SELECT doc_id, pb, pe, 1000 + (${H("piece")}) % 29522 AS input_id,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY wtid, i) AS token_id FROM pt),
       |allt AS (
       |  SELECT doc_id, token_id, input_id, pb AS "begin", pe AS "end" FROM pi
       |  UNION ALL SELECT doc_id, 0, 101, 0, 0 FROM documents
       |  UNION ALL SELECT d.doc_id, n.np + 1, 102, len(d.text), len(d.text)
       |    FROM documents d JOIN (SELECT doc_id, count(*) AS np FROM pi GROUP BY doc_id) n
       |    ON d.doc_id = n.doc_id)""".stripMargin

  private def sqlList(xs: Seq[String]) = xs.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Stopword ratio over word-list column `ws` (mirror of stopRatio). */
  private def ratio(stops: Seq[String]) =
    s"CASE WHEN len(ws) > 0 THEN CAST(len(list_filter(ws, w -> " +
      s"list_contains(${sqlList(stops)}, w))) AS DOUBLE) / len(ws) ELSE 0.0 END"

  /** Distinct 3-gram shingle hashes CTE chain over `src` → `hs(doc_id, h)`.
    * Mirror of TextAnalysis.shingleHashes(text, 3). */
  def shingleCte(src: String): String =
    s"""ws0 AS (SELECT doc_id, $Words AS w FROM $src),
       |sh0 AS (SELECT doc_id, CASE WHEN len(w) >= 3
       |          THEN list_transform(generate_series(0, len(w) - 3),
       |                 i -> array_to_string(list_slice(w, i + 1, i + 3), ' '))
       |          ELSE [array_to_string(w, ' ')] END AS s FROM ws0),
       |hs AS (SELECT doc_id, list_distinct(list_transform(s, t -> ${H("t")})) AS h FROM sh0)""".stripMargin

  val ShingleCte: String = shingleCte("documents")

  /** MinHash signature (k=8) + LSH band keys (bands=4, rows=2) CTE chain
    * over `src` → `bk(doc_id, keys)`. Mirrors Dedup.minhashSignature /
    * lshBandKeys with hashParams a=2i+3, b=10007(i+1). */
  def minhashCte(src: String): String =
    s"""${shingleCte(src)},
       |sg AS (SELECT doc_id, list_transform(generate_series(0, 7), i ->
       |         list_min(list_transform(h, x -> (x*(2*i + 3) + 10007*(i + 1)) % 2147483647))) AS sig
       |       FROM hs),
       |bk AS (SELECT doc_id, list_transform(generate_series(0, 3), bb ->
       |         list_reduce(list_prepend(CAST(bb AS BIGINT), list_slice(sig, bb*2 + 1, bb*2 + 2)),
       |           (u, v) -> (u*31 + v) % 2147483647)) AS keys FROM sg)""".stripMargin

  val MinhashCte: String = minhashCte("documents")

  /** SimHash fingerprint CTE chain → `fp(doc_id, f)`. Mirror of Dedup.simhash. */
  val SimhashCte: String =
    s"""wh AS (SELECT doc_id, list_transform($Words, w -> ${H("w")}) AS h FROM documents),
       |fp AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 31), i ->
       |         CASE WHEN 2*len(list_filter(h, x -> CAST(floor(x / power(2.0, i)) AS BIGINT) % 2 = 1)) - len(h) > 0
       |              THEN CAST(power(2.0, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS f FROM wh)""".stripMargin

  /** Mirror of Dedup.simhashWideDupPairs(families, maxDist): chunk layout
    * computed with the same arithmetic as the operator. */
  def simhashWideOracle(families: Int, maxDist: Int): String = {
    val totalBits = families * 31; val chunks = maxDist + 1
    val chunkSql = (0 until chunks).map { c =>
      val lo = c * totalBits / chunks
      val hi = (c + 1) * totalBits / chunks
      val fam = lo / 31; val famLo = lo % 31
      val loBits = math.min(hi - lo, 31 - famLo)
      val low = s"((fps[${fam + 1}] >> $famLo) & ${(1L << loBits) - 1})"
      val hiBits = (hi - lo) - loBits
      if (hiBits == 0) low
      else s"($low | ((fps[${fam + 2}] & ${(1L << hiBits) - 1}) << $loBits))"
    }.mkString(", ")
    val dist = (1 to families).map(i => s"bit_count(xor(fa[$i], fb[$i]))").mkString(" + ")
    s"""WITH wh AS (SELECT doc_id, list_transform($Words, w -> ${H("w")}) AS h FROM documents),
       |fps AS (SELECT doc_id, list_transform(generate_series(0, ${families - 1}), fam ->
       |    CAST(list_sum(list_transform(generate_series(0, 30), i ->
       |      CASE WHEN 2*len(list_filter(h, x ->
       |          ((((x*(2*fam + 3) + 10007*(fam + 1)) % 2147483647) >> i) & 1) = 1)) - len(h) > 0
       |        THEN CAST(power(2.0, i) AS BIGINT) ELSE 0 END)) AS BIGINT)) AS fps FROM wh),
       |ch AS (SELECT doc_id, fps, generate_subscripts(cs, 1) - 1 AS chunk, unnest(cs) AS val
       |  FROM (SELECT doc_id, fps, [$chunkSql] AS cs FROM fps)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, a.fps AS fa, b2.doc_id AS id_b, b2.fps AS fb
       |  FROM ch a JOIN ch b2 ON a.chunk = b2.chunk AND a.val = b2.val AND a.doc_id < b2.doc_id)
       |SELECT id_a, id_b, $dist AS dist
       |FROM cand WHERE $dist <= $maxDist""".stripMargin
  }

  /** Double-precision embedding vectors CTE → `ed(id, v)`. */
  val EmbCte: String =
    "ed AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"

  /** Left-fold dot product of two double-list expressions (mirror of
    * tensor.dot: same element order, same fold order → bit-identical). */
  def dot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform($a, (x, i) -> x * $b[i])), (u, w) -> u + w)"

  /** Cosine similarity mirror of tensor.cosine (0 when a norm is 0). */
  def cos(a: String, b: String): String =
    s"(CASE WHEN sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}) > 0 " +
      s"THEN ${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})) ELSE 0.0 END)"

  /** Sign-LSH bucket of a double-list expression (mirror of Dedup.signBucket,
    * nPlanes=8; DuckDB lambda index i is 1-based hence (i-1)). */
  def bucket(v: String): String =
    s"CAST(list_sum(list_transform(generate_series(0, 7), p -> " +
      s"CASE WHEN list_reduce(list_prepend(0.0, list_transform($v, (x, i) -> " +
      s"CASE WHEN ((i-1)*(p + 3) + p) % 4 < 2 THEN x ELSE -x END)), (u, w) -> u + w) > 0 " +
      s"THEN CAST(power(2.0, p) AS BIGINT) ELSE 0 END)) AS BIGINT)"

  /** Hashed-family sign-LSH bucket (mirror of Dedup.signBucketHashed,
    * nPlanes=8): +x iff bit 31 of Dedup.hashedPlanePositive's hash of
    * (i, p + 1) is 0, DuckDB's list lambda index i being 1-based = the
    * engine's (j+1). Each hash step binds its input once through a
    * one-element list_transform; every intermediate stays below 2^62. */
  def bucketH(v: String): String = {
    def step(e: String, h: String, f: String) = s"list_transform([$e], $h -> $f)[1]"
    val x0 = "((i * 2654435761 + (p + 1) * 40499) % 4294967296)"
    val x1 = step(x0, "h1", "xor(h1, h1 >> 15)")
    val x2 = step(x1, "h2", "(h2 * 739982445) % 4294967296")
    val x3 = step(x2, "h3", "xor(h3, h3 >> 12)")
    val x4 = step(x3, "h4", "(h4 * 695872825) % 4294967296")
    val x5 = step(x4, "h5", "xor(h5, h5 >> 15)")
    s"CAST(list_sum(list_transform(generate_series(0, 7), p -> " +
      s"CASE WHEN list_reduce(list_prepend(0.0, list_transform($v, (x, i) -> " +
      s"CASE WHEN ($x5 >> 31) & 1 = 0 THEN x ELSE -x END)), (u, w) -> u + w) > 0 " +
      s"THEN CAST(power(2.0, p) AS BIGINT) ELSE 0 END)) AS BIGINT)"
  }

  /** Probe-bucket list (own bucket + all single-bit flips) from CTE with
    * columns (id, bucket) → rows (id, pb). */
  val ProbeExpr: String =
    "unnest(list_prepend(bucket, list_transform(generate_series(0, 7), p2 -> " +
      "xor(bucket, CAST(power(2.0, p2) AS BIGINT))))) AS pb"

  /** Squared-L2 distance between two double-list expressions — the same
    * left fold as Similarity.bestCentroid's zip_with/aggregate. */
  def sqDist(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform($a, (x, i) -> " +
      s"(x - $b[i]) * (x - $b[i]))), (u, w) -> u + w)"

  /** Unrolled Lloyd's k-means CTE chain, mirror of
    * Similarity.kmeansFitCentroids step for step. Requires `EmbCte` in
    * scope. Produces c0 (k smallest ids, cid = rank), then per iteration
    * j: dj (point×centroid squared-L2), aj (argmin assignment, ties to
    * smallest cid), cj (per-dim mean rounded 6dp; empty clusters drop).
    * The final assignment against c`iters` is a`iters+1`. */
  def kmeansCtes(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= "fkm AS (SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS dim,\n" +
      "    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),\n"
    sb ++= s"c0 AS (SELECT CAST(rn - 1 AS INTEGER) AS cid, v FROM\n" +
      s"  (SELECT id, v, row_number() OVER (ORDER BY id) AS rn FROM ed) WHERE rn <= $k)"
    for (j <- 1 to iters + 1) {
      sb ++= s",\nd$j AS (SELECT p.id, c.cid, ${sqDist("p.v", "c.v")} AS dist\n" +
        s"  FROM ed p CROSS JOIN c${j - 1} c),\n"
      sb ++= s"a$j AS (SELECT id, cid, dist FROM (SELECT *, row_number() OVER\n" +
        s"  (PARTITION BY id ORDER BY dist, cid) AS rn FROM d$j) WHERE rn = 1)"
      if (j <= iters)
        sb ++= s",\nc$j AS (SELECT cid, list(round(m, 6) ORDER BY dim) AS v FROM\n" +
          s"  (SELECT a.cid, f.dim, sum(f.x) / count(*) AS m FROM a$j a\n" +
          s"   JOIN fkm f USING (id) GROUP BY a.cid, f.dim) GROUP BY cid)"
    }
    sb.toString
  }

  /** Corpus-estimated bigram-LM CTE chain (mirror of
    * TextAnalysis.bigramLogProb): unigram/bigram hash counts, per-position
    * log conditionals, and `agg(doc_id, n_bigrams, avg_lp)` with the
    * position-ordered fold. Shared by q86 and q128. */
  lazy val BigramLmCte: String =
    s"""ws0 AS (SELECT doc_id, $Words AS w FROM documents),
       |u AS (SELECT doc_id, generate_subscripts(ul, 1) - 1 AS pos, unnest(ul) AS h1
       |  FROM (SELECT doc_id, list_transform(w, x -> ${H("x")}) AS ul FROM ws0)),
       |b AS (SELECT doc_id, generate_subscripts(bl, 1) - 1 AS pos, unnest(bl) AS h2
       |  FROM (SELECT doc_id, list_transform(generate_series(0, len(w) - 2),
       |    i -> ${H("array_to_string(list_slice(w, i + 1, i + 2), ' ')")}) AS bl FROM ws0)),
       |uc AS (SELECT h1, count(*) AS c1 FROM u GROUP BY h1),
       |bc AS (SELECT h2, count(*) AS c2 FROM b GROUP BY h2),
       |lp AS (SELECT b.doc_id, b.pos, ln(CAST(c2 AS DOUBLE) / c1) AS lp
       |  FROM b JOIN u ON b.doc_id = u.doc_id AND b.pos = u.pos
       |  JOIN bc USING (h2) JOIN uc USING (h1)),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams,
       |    round(list_reduce(list_prepend(0.0, list(lp ORDER BY pos)),
       |      (a, x) -> a + x) / count(*), 4) AS avg_lp
       |  FROM lp GROUP BY doc_id)""".stripMargin

  /** Winnowing fingerprint CTE chain (mirror of
    * TextAnalysis.winnowFingerprints, k=3 / w=4): positional 3-gram
    * hashes, per-window rightmost-min via list_reduce, consecutive-dup
    * emission → `ded(doc_id, fps)` where fps is a list of {h, p}
    * structs. Shared by q132 and q133. */
  lazy val WinnowCte: String =
    s"""ws0 AS (SELECT doc_id, $Words AS w FROM documents),
       |hl AS (SELECT doc_id, list_transform(generate_series(0, len(w) - 3),
       |    i -> ${H("array_to_string(list_slice(w, i + 1, i + 3), ' ')")}) AS hs FROM ws0),
       |hp AS (SELECT doc_id, len(hs) AS n,
       |    list_transform(generate_series(0, len(hs) - 1),
       |      p -> {'h': hs[p + 1], 'p': p}) AS hp
       |  FROM hl WHERE len(hs) >= 1),
       |fp AS (SELECT doc_id, CASE WHEN n >= 4 THEN
       |    list_transform(generate_series(0, n - 4), i ->
       |      list_reduce(list_slice(hp, i + 1, i + 4), (a, x) ->
       |        CASE WHEN x.h <= a.h THEN x ELSE a END))
       |  ELSE [list_reduce(hp, (a, x) -> CASE WHEN x.h <= a.h THEN x ELSE a END)]
       |  END AS raw FROM hp),
       |ded AS (SELECT doc_id, list_transform(
       |    list_filter(generate_series(0, len(raw) - 1),
       |      j -> j = 0 OR NOT (raw[j + 1] = raw[j])), j -> raw[j + 1]) AS fps
       |  FROM fp)""".stripMargin

  /** Unrolled product-quantization CTE chain, mirror of
    * Similarity.pqFitCodebooks step for step but vectorized over the
    * subspace axis: `psv` (id, sub, sliced sub-vector), `pqf` (per-dim
    * flat rows with subspace/coordinate), `pc0` init (ksub smallest ids
    * per subspace, code = rank), then per iteration j: pd`j` (sub-vector
    * × code squared-L2), pa`j` (argmin assignment, ties to smallest
    * code), pc`j` (per-coordinate mean rounded 6dp; empty codes drop).
    * Requires `EmbCte`. Final codes = pa`iters+1` against pc`iters`. */
  def pqCtes(m: Int, ksub: Int, iters: Int, dim: Int = 64): String = {
    require(dim % m == 0)
    val d = dim / m
    val sb = new StringBuilder
    sb ++= s"subs AS (SELECT unnest(generate_series(0, ${m - 1})) AS sub),\n"
    sb ++= s"psv AS (SELECT id, sub, list_slice(v, sub*$d+1, sub*$d+$d) AS v\n" +
      s"  FROM ed CROSS JOIN subs),\n"
    sb ++= s"pqf AS (SELECT id, dim // $d AS sub, dim % $d AS subpos, x FROM\n" +
      s"  (SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS dim,\n" +
      s"   CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)),\n"
    sb ++= s"pc0 AS (SELECT sub, CAST(rn - 1 AS INTEGER) AS cid, v FROM\n" +
      s"  (SELECT sub, id, v, row_number() OVER (PARTITION BY sub ORDER BY id) AS rn FROM psv)\n" +
      s"  WHERE rn <= $ksub)"
    for (j <- 1 to iters + 1) {
      sb ++= s",\npd$j AS (SELECT p.id, p.sub, c.cid, ${sqDist("p.v", "c.v")} AS dist\n" +
        s"  FROM psv p JOIN pc${j - 1} c USING (sub)),\n"
      sb ++= s"pa$j AS (SELECT id, sub, cid, dist FROM (SELECT *, row_number() OVER\n" +
        s"  (PARTITION BY id, sub ORDER BY dist, cid) AS rn FROM pd$j) WHERE rn = 1)"
      if (j <= iters)
        sb ++= s",\npc$j AS (SELECT sub, cid, list(round(m, 6) ORDER BY subpos) AS v FROM\n" +
          s"  (SELECT a.sub, a.cid, f.subpos, sum(f.x) / count(*) AS m FROM pa$j a\n" +
          s"   JOIN pqf f ON a.id = f.id AND a.sub = f.sub GROUP BY a.sub, a.cid, f.subpos)\n" +
          s"  GROUP BY sub, cid)"
    }
    sb.toString
  }

  /** Unrolled RESIDUAL product-quantization CTE chain (true IVFADC,
    * mirror of Similarity.pqFitCodebooksResidual /
    * ivfPqIndexResidual): requires `EmbCte`, `cen(cell_id, centroid)`
    * and the max-cosine routing `asg(vec_id, cell_id)` in scope.
    * Produces `red(id, v)` — the residual x − centroid(cell), exact
    * double subtraction against the 6dp-rounded centroids — then the
    * [[pqCtes]] fit/encode chain over the residuals under r-prefixed
    * names (rsubs, rpsv, rpqf, rpc0, rpd*j*, rpa*j*, rpc*j*). Final
    * codes = rpa`iters+1` against books rpc`iters`. */
  def pqResidualCtes(m: Int, ksub: Int, iters: Int, dim: Int = 64): String = {
    require(dim % m == 0)
    val d = dim / m
    val sb = new StringBuilder
    sb ++= "red AS (SELECT e.id, list_transform(e.v, (x, i) -> x - c.centroid[i]) AS v\n" +
      "  FROM ed e JOIN asg a ON a.vec_id = e.id JOIN cen c ON c.cell_id = a.cell_id),\n"
    sb ++= s"rsubs AS (SELECT unnest(generate_series(0, ${m - 1})) AS sub),\n"
    sb ++= s"rpsv AS (SELECT id, sub, list_slice(v, sub*$d+1, sub*$d+$d) AS v\n" +
      s"  FROM red CROSS JOIN rsubs),\n"
    sb ++= s"rpqf AS (SELECT id, dim // $d AS sub, dim % $d AS subpos, x FROM\n" +
      s"  (SELECT id, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM red)),\n"
    sb ++= s"rpc0 AS (SELECT sub, CAST(rn - 1 AS INTEGER) AS cid, v FROM\n" +
      s"  (SELECT sub, id, v, row_number() OVER (PARTITION BY sub ORDER BY id) AS rn FROM rpsv)\n" +
      s"  WHERE rn <= $ksub)"
    for (j <- 1 to iters + 1) {
      sb ++= s",\nrpd$j AS (SELECT p.id, p.sub, c.cid, ${sqDist("p.v", "c.v")} AS dist\n" +
        s"  FROM rpsv p JOIN rpc${j - 1} c USING (sub)),\n"
      sb ++= s"rpa$j AS (SELECT id, sub, cid, dist FROM (SELECT *, row_number() OVER\n" +
        s"  (PARTITION BY id, sub ORDER BY dist, cid) AS rn FROM rpd$j) WHERE rn = 1)"
      if (j <= iters)
        sb ++= s",\nrpc$j AS (SELECT sub, cid, list(round(m, 6) ORDER BY subpos) AS v FROM\n" +
          s"  (SELECT a.sub, a.cid, f.subpos, sum(f.x) / count(*) AS m FROM rpa$j a\n" +
          s"   JOIN rpqf f ON a.id = f.id AND a.sub = f.sub GROUP BY a.sub, a.cid, f.subpos)\n" +
          s"  GROUP BY sub, cid)"
    }
    sb.toString
  }

  /** DuckDB literal for a rotation matrix: list-of-lists of doubles.
    * Entries are the engine's 6dp-rounded values printed with Java's
    * shortest round-trip repr — both engines parse the decimal back to
    * the identical IEEE double, so the literal IS the matrix. */
  def rotationLit(r: Array[Array[Double]]): String =
    r.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Rotation application mirror of Similarity.rotate over a double-list
    * expression `v`: out[i] = dot(R[i], v), the same element-order left
    * fold as [[dot]] — bit-identical per row, DELIBERATELY unrounded
    * (see Similarity.rotate: stabilizing to 6dp here creates exact
    * decimal ties in the downstream codebook means, which is where
    * rounding becomes engine-divergent). */
  def rotSql(rLit: String, v: String): String =
    s"list_transform($rLit, rr -> list_reduce(list_prepend(0.0, " +
      s"list_transform(rr, (x, i) -> x * $v[i])), (u, w) -> u + w))"

  /** Unrolled OPQ product-quantization CTE chain (Ge 2013, mirror of
    * Similarity.opqFitRotation's FINAL sweep + ivfPqIndexOpq): requires
    * `EmbCte`, `cen(cell_id, centroid)` and the max-cosine routing
    * `asg(vec_id, cell_id)` in scope, plus the fitted rotation as a
    * literal (`rLit` — the engine embeds its 6dp-rounded fit; the SQL
    * verifies everything DOWNSTREAM of choosing R: rotation
    * application, the deterministic codebook fit on the rotated
    * residuals, encoding, and ADC). Produces `red` (residuals), `ror`
    * (rotated residuals), then the [[pqCtes]] fit/encode chain under
    * o-prefixed names. Final codes = opa`iters+1` against books
    * opc`iters`. */
  def opqCtes(m: Int, ksub: Int, iters: Int, rLit: String,
      dim: Int = 64): String = {
    require(dim % m == 0)
    val d = dim / m
    val sb = new StringBuilder
    sb ++= "red AS (SELECT e.id, list_transform(e.v, (x, i) -> x - c.centroid[i]) AS v\n" +
      "  FROM ed e JOIN asg a ON a.vec_id = e.id JOIN cen c ON c.cell_id = a.cell_id),\n"
    sb ++= s"ror AS (SELECT id, ${rotSql(rLit, "v")} AS v FROM red),\n"
    sb ++= s"osubs AS (SELECT unnest(generate_series(0, ${m - 1})) AS sub),\n"
    sb ++= s"opsv AS (SELECT id, sub, list_slice(v, sub*$d+1, sub*$d+$d) AS v\n" +
      s"  FROM ror CROSS JOIN osubs),\n"
    sb ++= s"opqf AS (SELECT id, dim // $d AS sub, dim % $d AS subpos, x FROM\n" +
      s"  (SELECT id, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM ror)),\n"
    sb ++= s"opc0 AS (SELECT sub, CAST(rn - 1 AS INTEGER) AS cid, v FROM\n" +
      s"  (SELECT sub, id, v, row_number() OVER (PARTITION BY sub ORDER BY id) AS rn FROM opsv)\n" +
      s"  WHERE rn <= $ksub)"
    for (j <- 1 to iters + 1) {
      sb ++= s",\nopd$j AS (SELECT p.id, p.sub, c.cid, ${sqDist("p.v", "c.v")} AS dist\n" +
        s"  FROM opsv p JOIN opc${j - 1} c USING (sub)),\n"
      sb ++= s"opa$j AS (SELECT id, sub, cid, dist FROM (SELECT *, row_number() OVER\n" +
        s"  (PARTITION BY id, sub ORDER BY dist, cid) AS rn FROM opd$j) WHERE rn = 1)"
      if (j <= iters)
        sb ++= s",\nopc$j AS (SELECT sub, cid, list(round(m, 6) ORDER BY subpos) AS v FROM\n" +
          s"  (SELECT a.sub, a.cid, f.subpos, sum(f.x) / count(*) AS m FROM opa$j a\n" +
          s"   JOIN opqf f ON a.id = f.id AND a.sub = f.sub GROUP BY a.sub, a.cid, f.subpos)\n" +
          s"  GROUP BY sub, cid)"
    }
    sb.toString
  }

  /** OPQ IVFADC oracle (q185/q186 — the stored form returns identical
    * rows): q180's residual mirror with the fitted rotation applied to
    * both the encoded residuals ([[opqCtes]]) and the per-probed-cell
    * query residuals. Built at Verify time from the engine's fitted
    * 6dp-rounded rotation (a deterministic pure function of the
    * embeddings relation, frozen per JVM). */
  /** The shared OPQ WITH-chain through `oscored(query_id, vec_id,
    * adc)` — routing, rotated-residual fit/encode, rotated probe
    * residuals, ADC. */
  private def opqChain(rLit: String): String =
    s"""WITH $EmbCte,
       |${kmeansCtes(8, 2)},
       |cen AS (SELECT cid AS cell_id, v AS centroid FROM c2),
       |asg AS (SELECT id AS vec_id, cell_id FROM
       |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
       |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
       |   FROM ed e CROSS JOIN cen c) WHERE rn = 1),
       |${opqCtes(8, 16, 2, rLit)},
       |pr AS (SELECT id AS query_id, cell_id FROM
       |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
       |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
       |   FROM ed e CROSS JOIN cen c WHERE e.id < 5) WHERE rn <= 2),
       |qr AS (SELECT p.query_id, p.cell_id,
       |    list_transform(e.v, (x, i) -> x - c.centroid[i]) AS qv
       |  FROM pr p JOIN ed e ON e.id = p.query_id
       |  JOIN cen c ON c.cell_id = p.cell_id),
       |qro AS (SELECT query_id, cell_id, ${rotSql(rLit, "qv")} AS qv FROM qr),
       |oqsv AS (SELECT query_id, cell_id, sub,
       |    list_slice(qv, sub*8+1, sub*8+8) AS v FROM qro CROSS JOIN osubs),
       |osd AS (SELECT q.query_id, a.vec_id, q.sub, ${sqDist("q.v", "c.v")} AS dist
       |  FROM oqsv q JOIN asg a ON a.cell_id = q.cell_id
       |  JOIN opa3 pa ON pa.id = a.vec_id AND pa.sub = q.sub
       |  JOIN opc2 c ON c.sub = pa.sub AND c.cid = pa.cid),
       |oscored AS (SELECT query_id, vec_id,
       |  round(list_reduce(list_prepend(0.0, list(dist ORDER BY sub)),
       |    (u, w) -> u + w), 6) AS adc
       |  FROM osd GROUP BY query_id, vec_id)""".stripMargin

  def opqSql(r: Array[Array[Double]]): String =
    s"""${opqChain(rotationLit(r))}
       |SELECT query_id, vec_id, adc, rank FROM
       |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |     ORDER BY adc, vec_id) AS INTEGER) AS rank FROM oscored)
       |WHERE rank <= 10""".stripMargin

  /** OPQ IVFADC+R oracle (q59): [[opqChain]]'s ADC shortlist at R=40,
    * exact cosine re-rank against the TRUE vectors (q170's tail shape,
    * OPQ family). */
  def opqRerankSql(r: Array[Array[Double]]): String =
    s"""${opqChain(rotationLit(r))},
       |short AS (SELECT query_id, vec_id FROM
       |  (SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY adc, vec_id) AS rr FROM oscored) WHERE rr <= 40),
       |rer AS (SELECT s.query_id, s.vec_id, round(${cos("qe.v", "ce.v")}, 6) AS cos
       |  FROM short s JOIN ed qe ON qe.id = s.query_id
       |  JOIN ed ce ON ce.id = s.vec_id)
       |SELECT query_id, vec_id, cos, rank FROM
       |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |     ORDER BY cos DESC, vec_id) AS INTEGER) AS rank FROM rer)
       |WHERE rank <= 10""".stripMargin

  /** SQL mirror of Html.synthPage over (id, lang, text) expressions —
    * byte-identical page construction on both engines. */
  private def htmlPageSql(id: String, lang: String, text: String): String = {
    // coalesce: DuckDB's array_to_string over an EMPTY list is NULL,
    // Spark's array_join is '' — short documents hit the empty slices
    val w = s"regexp_extract_all(lower($text), '[a-z0-9]+')"
    val s1 = s"(coalesce(array_to_string(list_slice($w, 1, 8), ' '), '') || '.')"
    val s2 = s"(coalesce(array_to_string(list_slice($w, 9, 16), ' '), '') || '!')"
    val s3 = s"(coalesce(array_to_string(list_slice($w, 17, 22), ' '), '') || '?')"
    val ids = s"CAST($id AS VARCHAR)"
    s"('<html><head><title>Doc &amp; ' || $ids || " +
      "'</title><style type=\"text/css\">p {margin: 0}</style></head><body>' || " +
      s"'<!-- crawl ' || $ids || ' -->' || " +
      s"'<h1>Entry &lt;' || $lang || '&gt;</h1>' || " +
      s"'<p>' || $s1 || '</p><p>' || $s2 || ' ' || $s3 || '</p>' || " +
      "'<div>Enable javascript to view this page.</div>' || " +
      "'<div>We use a cookie banner; read the privacy policy.</div>' || " +
      "'<p>Short line.</p>' || " +
      s"'<script>if (n < 10) { track(\"' || $ids || '\"); }</script>' || " +
      s"'<p>' || $s1 || ' ' || $s2 || '</p>' || " +
      "'</body></html>')"
  }

  /** Entity decode mirror (Html.Entities, amp-last order). */
  private def htmlDecodeSql(e: String): String =
    operators.Html.Entities.foldLeft(e) { case (a, (s, r)) =>
      s"replace($a, '$s', '${r.replace("'", "''")}')"
    }

  /** Block-array mirror of Html.blocks: the exact regex constants from
    * operators.Html embedded verbatim (all RE2-safe by design). */
  private def htmlBlocksSql(h: String): String = {
    import operators.Html._
    val noC = s"regexp_replace($h, '$CommentRe', '', 'gs')"
    val noS = s"regexp_replace($noC, '$ScriptRe', '', 'gs')"
    val noSt = s"regexp_replace($noS, '$StyleRe', '', 'gs')"
    val noT = s"regexp_replace($noSt, '$TitleElemRe', '', 'gs')"
    val bl = s"regexp_replace($noT, '$BlockTagRe', chr(10), 'g')"
    val raw = htmlDecodeSql(s"regexp_replace($bl, '$AnyTagRe', '', 'g')")
    s"list_filter(list_transform(string_split($raw, chr(10)), " +
      s"l -> trim(regexp_replace(l, '$SpaceRunRe', ' ', 'g'))), b -> b <> '')"
  }

  private def htmlTitleSql(h: String): String = {
    val t = s"regexp_extract($h, '${operators.Html.TitleRe}', 1)"
    s"trim(${htmlDecodeSql(t)})"
  }

  private val base: Map[String, String] = Map(

    // HTML extraction mirror: the synthetic page, the strip/segment/
    // decode chain, and the block whitespace rules, all re-derived from
    // the shared operators.Html constants.
    "q150_html_to_text" ->
      s"""WITH pages AS (SELECT doc_id, ${htmlPageSql("doc_id", "lang", "text")} AS html
         |  FROM documents),
         |t AS (SELECT doc_id, html, ${htmlBlocksSql("html")} AS bl FROM pages)
         |SELECT doc_id, ${htmlTitleSql("html")} AS title,
         |  CAST(len(bl) AS BIGINT) AS n_blocks,
         |  coalesce(array_to_string(bl, chr(10)), '') AS clean_text,
         |  CAST(length(coalesce(array_to_string(bl, chr(10)), '')) AS BIGINT) AS n_chars
         |FROM t""".stripMargin,

    // Crawl pipeline mirror: crawl + re-crawl union, extraction, the
    // q101 C4 line/document rules on the extracted text, then exact
    // dedup on the hashed clean text (survivor = min page_id).
    "q151_crawl_pipeline" ->
      s"""WITH crawlp AS (
         |  SELECT doc_id AS page_id, doc_id, lang, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000000 AS page_id, doc_id, lang, text
         |  FROM documents WHERE doc_id % 3 = 0),
         |tx AS (SELECT page_id,
         |    coalesce(array_to_string(${htmlBlocksSql(htmlPageSql("doc_id", "lang", "text"))}, chr(10)), '') AS txt
         |  FROM crawlp),
         |x AS (SELECT page_id, txt, string_split(txt, chr(10)) AS lines FROM tx),
         |k AS (SELECT page_id, txt, list_filter(lines, l ->
         |    regexp_matches(rtrim(l), '[.!?"]$$')
         |    AND len(regexp_extract_all(l, '\\S+')) >= 3
         |    AND NOT contains(lower(l), 'javascript')
         |    AND NOT regexp_matches(lower(l), 'cookie|privacy policy|terms of use')) AS kept
         |  FROM x),
         |m AS (SELECT page_id, len(kept) AS n_kept,
         |    coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
         |    (contains(lower(txt), 'lorem ipsum') OR contains(txt, '{')) AS boilerplate
         |  FROM k),
         |c AS (SELECT page_id, n_kept,
         |    len(regexp_extract_all(clean_text, '[.!?]')) AS n_sentences, clean_text
         |  FROM m WHERE NOT boilerplate
         |    AND len(regexp_extract_all(clean_text, '[.!?]')) >= 3),
         |sv AS (SELECT ${H("clean_text")} AS h, CAST(min(page_id) AS BIGINT) AS spage,
         |    CAST(count(*) AS BIGINT) AS n_copies FROM c GROUP BY 1)
         |SELECT c.page_id, c.n_kept, c.n_sentences,
         |  CAST(length(c.clean_text) AS BIGINT) AS clean_chars, sv.n_copies
         |FROM c JOIN sv ON c.page_id = sv.spage""".stripMargin,

    // ---- relational core ----

    "q01_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_price, avg(l_discount) AS avg_disc, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // Exact integer-cents arithmetic (prices/discounts are 2-decimal values):
    // the BIGINT sum is order-independent, so Spark's shuffle-order double
    // sum and DuckDB's sequential sum cannot drift apart; one identical
    // final division yields a bit-exact double on both engines.
    "q02_priority_revenue" ->
      """WITH rev AS (
        |  SELECT o_orderpriority,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |        * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) / 10000.0 AS revenue
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY o_orderpriority),
        |cnt AS (SELECT o_orderpriority, count(*) AS n_orders FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, revenue, n_orders FROM rev JOIN cnt USING (o_orderpriority)""".stripMargin,

    "q55_rollup" ->
      """SELECT coalesce(l_returnflag, '(all)') AS rf, coalesce(l_linestatus, '(all)') AS ls,
        |  sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q03_top_orders" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",

    "q04_events_hourly" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_id, event_type,
        |  count(*) AS n, sum(value) AS sum_value
        |FROM events GROUP BY hour_id, event_type""".stripMargin,

    "q05_user_sessions" ->
      """WITH x AS (SELECT user_id, epoch_ns(ts) AS t,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS p FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN p IS NULL OR t - p > 1800000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM x GROUP BY user_id""".stripMargin,

    // Mirror of EventStreams.correlatedPairs(click, purchase, 360 min):
    // interval self-join at micro precision (the engine's event_time unit).
    "q85_stream_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events)
        |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |  b.us - a.us AS lag_us
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND a.event_type = 'click' AND b.event_type = 'purchase'
        |  AND b.us > a.us AND b.us <= a.us + 21600000000""".stripMargin,

    "q51_stream_hourly" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        |  count(*) AS n, sum(value) AS sum_value
        |FROM events GROUP BY hour_ms, event_type""".stripMargin,

    // Gaps-and-islands mirror of EventStreams.sessionize(gap = 30 min):
    // a new session starts when the previous event is over gapUs away.
    "q62_sessionize" ->
      """WITH x AS (SELECT user_id, epoch_ns(ts) // 1000 AS t FROM events),
        |f AS (SELECT user_id, t,
        |    CASE WHEN p IS NULL OR t - p > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM (SELECT user_id, t, lag(t) OVER (PARTITION BY user_id ORDER BY t) AS p FROM x)),
        |g AS (SELECT user_id, t,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t) AS BIGINT) AS sid FROM f)
        |SELECT user_id, min(t) AS start_us, max(t) AS end_us, count(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin,

    "q71_value_quantiles" ->
      """SELECT event_type, n, generate_subscripts(qs, 1) - 1 AS q_idx,
        |  round(unnest(qs), 6) AS q
        |FROM (SELECT event_type, quantile_cont(value, [0.25, 0.5, 0.75]) AS qs,
        |        count(*) AS n FROM events GROUP BY event_type)""".stripMargin,

    "q40_json_props" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events",

    // ---- text analysis ----

    "q06_token_counts" ->
      """SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS n_ws,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]')) AS n_bpe
        |FROM documents""".stripMargin,

    "q07_lang_id" -> {
      val en = ratio(operators.TextAnalysis.StopwordsEn)
      val de = ratio(operators.TextAnalysis.StopwordsDe)
      val fr = ratio(operators.TextAnalysis.StopwordsFr)
      s"""WITH x AS (SELECT doc_id, $Words AS ws FROM documents),
         |r AS (SELECT doc_id, $en AS en, $de AS de, $fr AS fr FROM x)
         |SELECT doc_id, CASE WHEN en >= de AND en >= fr AND en > 0.05 THEN 'en'
         |  WHEN de >= fr AND de > 0.05 THEN 'de'
         |  WHEN fr > 0.05 THEN 'fr' ELSE 'und' END AS lang_pred FROM r""".stripMargin
    },

    "q08_quality" -> {
      val en = ratio(operators.TextAnalysis.StopwordsEn)
      s"""WITH x AS (SELECT doc_id, text, $Words AS ws FROM documents),
         |c AS (SELECT doc_id,
         |  least(CAST(len(ws) AS DOUBLE) / 200.0, 1.0) AS lc,
         |  greatest(0.0, 1.0 - (CASE WHEN len(text) > 0
         |    THEN CAST(len(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END) * 5) AS pp,
         |  CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws)
         |       ELSE 0.0 END AS mwl,
         |  $en AS en FROM x)
         |SELECT doc_id, round(lc*0.4 + pp*0.2 + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.5 END)*0.2
         |  + (CASE WHEN en > 0.05 THEN 1.0 ELSE 0.7 END)*0.2, 4) AS quality FROM c""".stripMargin
    },

    // Same quality arithmetic as q08, keyed by content hash; DISTINCT
    // mirrors the batch-path dedup (quality is a function of the text, so
    // (text_key, quality) is deterministic even though surviving ROWS are
    // per-key arbitrary).
    "q69_stream_clean" -> {
      val en = ratio(operators.TextAnalysis.StopwordsEn)
      s"""WITH x AS (SELECT doc_id, text, $Words AS ws FROM documents),
         |c AS (SELECT doc_id, text,
         |  least(CAST(len(ws) AS DOUBLE) / 200.0, 1.0) AS lc,
         |  greatest(0.0, 1.0 - (CASE WHEN len(text) > 0
         |    THEN CAST(len(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END) * 5) AS pp,
         |  CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws)
         |       ELSE 0.0 END AS mwl,
         |  $en AS en FROM x),
         |q AS (SELECT text, round(lc*0.4 + pp*0.2 + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.5 END)*0.2
         |  + (CASE WHEN en > 0.05 THEN 1.0 ELSE 0.7 END)*0.2, 4) AS quality FROM c)
         |SELECT DISTINCT md5(text) AS text_key, quality FROM q WHERE quality >= 0.5""".stripMargin
    },

    "q09_fingerprint" ->
      s"SELECT doc_id, ${H("text")} AS fp FROM documents",

    "q10_shingles" ->
      s"WITH $ShingleCte SELECT doc_id, len(h) AS n_sh, list_min(h) AS min_h FROM hs",

    "q11_text_stats" ->
      """WITH x AS (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents)
        |SELECT doc_id,
        |  round(CASE WHEN len(text) > 0 THEN CAST(len(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / len(text) ELSE 0.0 END, 4) AS alnum_r,
        |  round(CASE WHEN len(text) > 0 THEN CAST(len(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / len(text) ELSE 0.0 END, 4) AS punct_r,
        |  round(CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws) ELSE 0.0 END, 4) AS mean_wl
        |FROM x""".stripMargin,

    // Mirror of Pii.scan over the q82 synthesized-PII corpus. Counts are
    // taken on the pre-redaction text; redaction chains email → ssn →
    // phone → ipv4 with 'g' (DuckDB replaces first-only by default).
    "q82_pii_redact" ->
      """WITH px AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 5 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now' ELSE '' END
        |  || CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || CAST(doc_id % 250 AS VARCHAR) || '.0.' || CAST(doc_id % 200 AS VARCHAR) || ' logged' ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 or 555.867.5309' ELSE '' END
        |  || CASE WHEN doc_id % 13 = 0 THEN ' id 123-45-6789 on file' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssn,
        |  len(regexp_extract_all(text, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS n_phone,
        |  len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ipv4,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP4>', 'g') AS redacted
        |FROM px""".stripMargin,

    // ---- dedup / similarity ----

    "q53_conll_roundtrip" ->
      s"""WITH $ToksCte
         |SELECT doc_id AS doc_num, token_id + 1 AS token_id, "begin" + 11 AS "begin",
         |  "end" + 11 AS "end", text,
         |  CASE WHEN text = 'key' THEN 'B' ELSE 'O' END AS ent_iob
         |FROM toks WHERE doc_id < ${SparkEntry.ConllRoundtripCap}
         |UNION ALL
         |SELECT doc_id, 0, 0, 10, '-DOCSTART-', 'O' FROM documents
         |WHERE doc_id < ${SparkEntry.ConllRoundtripCap}""".stripMargin,

    // Mirror of the q57 synthesis + reader: 8-token sentences, head =
    // sentence-begin token (null for the root), offsets = original text
    // offsets (1-char separators on both sides of the roundtrip).
    "q57_conllu_roundtrip" ->
      s"""WITH $ToksCte
         |SELECT doc_id AS doc_num, token_id, "begin", "end", text,
         |  regexp_replace(text, 's+$$', '') AS lemma, 'NOUN' AS upostag,
         |  CASE WHEN token_id % 8 = 0 THEN NULL
         |       ELSE CAST((token_id // 8) * 8 AS INT) END AS head,
         |  's' || doc_id || '-' || CAST(token_id // 8 AS VARCHAR) AS sentence_id,
         |  'd' || doc_id AS doc_meta,
         |  CAST((token_id // 8) * 8 AS INT) AS sent_bt,
         |  CAST(least((token_id // 8) * 8 + 8, cnt) AS INT) AS sent_et
         |FROM (SELECT *, count(*) OVER (PARTITION BY doc_id) AS cnt FROM toks)
         |WHERE doc_id < ${SparkEntry.ConllRoundtripCap}""".stripMargin,

    // Mirror of q58: corpus token stream (incl. -DOCSTART- rows), output
    // tags I-KEY on 'key', IOB2 correction = B at sentence starts
    // (word index % 10 == 0) or after a non-key token.
    "q58_conll_output" ->
      s"""WITH $ToksCte,
         |lg AS (SELECT doc_id, token_id, text,
         |    lag(text) OVER (PARTITION BY doc_id ORDER BY token_id) AS ptext
         |  FROM toks WHERE doc_id < ${SparkEntry.ConllRoundtripCap})
         |SELECT doc_id AS doc_num, token_id + 1 AS token_id,
         |  CASE WHEN text = 'key' THEN
         |    (CASE WHEN token_id % 10 = 0 OR ptext IS DISTINCT FROM 'key'
         |          THEN 'B' ELSE 'I' END)
         |  ELSE 'O' END AS ent_iob,
         |  CASE WHEN text = 'key' THEN 'KEY' ELSE '' END AS ent_type
         |FROM lg
         |UNION ALL
         |SELECT doc_id, 0, 'O', '' FROM documents
         |WHERE doc_id < ${SparkEntry.ConllRoundtripCap}""".stripMargin,

    // Mirror of q60: stitched stub-model output code = (input_id*31 + d)
    // mod 997 for every stub-BERT token ([[StubBertCte]]).
    "q60_bert_embed" ->
      s"""WITH $ToksCte, $StubBertCte
         |SELECT doc_id, token_id, input_id, "begin", "end", dims.d,
         |  (input_id*31 + dims.d) % 997 AS ecode
         |FROM allt CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS d) dims""".stripMargin,

    // Mirror of q91: q33's IOB2 correction, then the composite class label
    // and its id under the ["O","B-K","B-V","I-K","I-V"] category order
    // (makeIobTagCategories: O first, all B-*, then all I-*).
    "q91_token_classes" ->
      s"""WITH $ToksCte,
         |tg AS (SELECT doc_id, token_id,
         |    CASE WHEN text IN ('key', 'value') THEN 'I' ELSE 'O' END AS iob,
         |    CASE WHEN text = 'key' THEN 'K' WHEN text = 'value' THEN 'V' END AS typ,
         |    token_id // 10 AS sent_b FROM toks),
         |lg AS (SELECT *, lag(iob) OVER w AS piob, lag(typ) OVER w AS ptyp, lag(sent_b) OVER w AS psb
         |  FROM tg WINDOW w AS (PARTITION BY doc_id ORDER BY token_id)),
         |c AS (SELECT doc_id, token_id,
         |    CASE WHEN iob = 'I' AND (piob IS NULL OR piob = 'O'
         |      OR typ IS DISTINCT FROM ptyp OR sent_b IS DISTINCT FROM psb) THEN 'B'
         |    ELSE iob END AS ent_iob, typ FROM lg)
         |SELECT doc_id, token_id,
         |  CASE WHEN ent_iob = 'O' THEN 'O' ELSE ent_iob || '-' || typ END AS token_class,
         |  CASE WHEN ent_iob = 'O' THEN 0
         |       WHEN ent_iob = 'B' AND typ = 'K' THEN 1
         |       WHEN ent_iob = 'B' AND typ = 'V' THEN 2
         |       WHEN ent_iob = 'I' AND typ = 'K' THEN 3
         |       ELSE 4 END AS token_class_id
         |FROM c""".stripMargin,

    // Bucketed write → read → join → per-doc agg roundtrip: values are
    // just the doc's token count beside its n_chars (the exchange-free
    // plan shape is asserted in StorageSpec; the oracle pins the data).
    "q110_bucketed_join" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks, n_chars
        |FROM documents""".stripMargin,

    // q91's classes decoded back: "O" -> ('O', NULL), "B-K" -> ('B','K').
    "q108_decode_classes" ->
      s"""WITH $ToksCte,
         |tg AS (SELECT doc_id, token_id,
         |    CASE WHEN text IN ('key', 'value') THEN 'I' ELSE 'O' END AS iob,
         |    CASE WHEN text = 'key' THEN 'K' WHEN text = 'value' THEN 'V' END AS typ,
         |    token_id // 10 AS sent_b FROM toks),
         |lg AS (SELECT *, lag(iob) OVER w AS piob, lag(typ) OVER w AS ptyp, lag(sent_b) OVER w AS psb
         |  FROM tg WINDOW w AS (PARTITION BY doc_id ORDER BY token_id)),
         |c AS (SELECT doc_id, token_id,
         |    CASE WHEN iob = 'I' AND (piob IS NULL OR piob = 'O'
         |      OR typ IS DISTINCT FROM ptyp OR sent_b IS DISTINCT FROM psb) THEN 'B'
         |    ELSE iob END AS ent_iob, typ FROM lg),
         |tc AS (SELECT doc_id, token_id,
         |    CASE WHEN ent_iob = 'O' THEN 'O' ELSE ent_iob || '-' || typ END AS token_class
         |  FROM c)
         |SELECT doc_id, token_id, token_class,
         |  CASE WHEN token_class = 'O' THEN 'O' ELSE substr(token_class, 1, 1) END AS ent_iob,
         |  CASE WHEN token_class = 'O' THEN NULL
         |       ELSE string_split(token_class, '-')[2] END AS ent_type
         |FROM tc""".stripMargin,

    // substitute_text_names over the 2x2 header-ID tables: row keys become
    // per-document display texts, columns c0/c1 become CA/CB.
    "q109_substitute_names" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 4)
        |SELECT doc_id, CAST(0 AS INTEGER) AS table_idx, CAST(0 AS INTEGER) AS row_idx,
        |  'row ' || ws[1] AS row_key, ws[1] AS CA, ws[2] AS CB FROM d
        |UNION ALL
        |SELECT doc_id, CAST(0 AS INTEGER), CAST(1 AS INTEGER),
        |  'row ' || ws[2], ws[3], ws[4] FROM d""".stripMargin,

    // Mirror of q92. The synthesized model spans make the pipeline's
    // outcome statically derivable: family A (anchor token i, chars
    // [b_i+1, e_{i+1})) always expands to tokens [i, i+2) and is kept by
    // the left-to-right walk; family B starts inside A's kept range
    // (b_{i+1} < e_{i+1}) and is always consolidated away. The >= 2-char
    // guards mirror the Spark-side synthesis exactly.
    "q92_align_bert" ->
      s"""WITH $ToksCte,
         |nx AS (SELECT doc_id, token_id, len(text) AS l0, "begin" AS b0,
         |    lead("end", 1) OVER w AS e1, lead(len(text), 1) OVER w AS l1
         |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY token_id))
         |SELECT doc_id, token_id AS begin_tok, token_id + 2 AS end_tok,
         |  b0 AS "begin", e1 AS "end", 'A' AS ent_type
         |FROM nx
         |WHERE token_id % 4 = 0 AND l0 >= 2 AND l1 >= 2 AND e1 IS NOT NULL""".stripMargin,

    // Mirror of q93 (conll_to_bert): EntsCte entity segments, stub-BERT
    // pieces, alignment via exact boundary joins (entity bounds are word
    // bounds, which are piece bounds), IOB2 re-tagging per piece, class
    // ids under ["O","B-K","I-K"], and the q60 stitched-embedding code.
    "q93_conll_to_bert" ->
      s"""WITH $ToksCte, $EntsCte, $StubBertCte,
         |eb AS (SELECT doc_id, "begin" AS gb, "end" AS ge, ent_type FROM ents WHERE ft = 'B'),
         |al AS (SELECT e.doc_id, bt.token_id AS ab, et.token_id + 1 AS ae, e.ent_type
         |  FROM eb e
         |  JOIN allt bt ON bt.doc_id = e.doc_id AND bt."begin" = e.gb AND bt."begin" < bt."end"
         |  JOIN allt et ON et.doc_id = e.doc_id AND et."end" = e.ge AND et."begin" < et."end"),
         |tg AS (SELECT t.doc_id, t.token_id, t.input_id, t."begin", t."end",
         |    CASE WHEN t.token_id = a.ab THEN 'B'
         |         WHEN a.ab IS NOT NULL THEN 'I' ELSE 'O' END AS ent_iob,
         |    coalesce(a.ent_type, '') AS ent_type
         |  FROM allt t LEFT JOIN al a ON t.doc_id = a.doc_id
         |    AND t.token_id >= a.ab AND t.token_id < a.ae)
         |SELECT doc_id, token_id, input_id, "begin", "end", ent_iob, ent_type,
         |  CASE WHEN ent_iob = 'O' THEN 'O' ELSE ent_iob || '-' || ent_type END AS token_class,
         |  CASE WHEN ent_iob = 'O' THEN 0 WHEN ent_iob = 'B' THEN 1 ELSE 2 END AS token_class_id,
         |  dims.d, (input_id*31 + dims.d) % 997 AS ecode
         |FROM tg CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS d) dims""".stripMargin,

    // Real WordPiece (greedy longest-match-first) replayed in SQL: the
    // greedy loop is unrolled to a bounded stage chain (corpus words are
    // <= 8 chars, so <= 8 pieces; every letter is in the mini vocab, so no
    // [UNK] path). Stage k: the longest vocab piece matching the word
    // remainder at `start` (argmax via row_number over match length),
    // emitting one piece and advancing `start`.
    "q78_wordpiece" -> {
      val vocabVals = graft.operators.WordPiece.MiniVocab
        .filterNot(_._1.startsWith("["))
        .map { case (p, id) =>
          val cont = p.startsWith("##")
          val np = if (cont) p.substring(2) else p
          s"('$np', $cont, $id)"
        }.mkString(", ")
      // Unroll bound for the greedy loop. The SQL's stage chain is static,
      // so this cannot literally be computed from the data — instead the
      // bound is generous (corpus words are <= 8 chars today) and the
      // final union carries a GUARD branch that raises a DuckDB error()
      // if any word still has unconsumed chars after the last stage, so a
      // corpus change breaks the oracle LOUDLY instead of silently.
      val maxPieces = 12
      val stages = (0 until maxPieces).map { k =>
        s"""c$k AS (SELECT t.doc_id, t.token_id, t.word, t.wb, t.start, v.id, len(v.np) AS plen
           |  FROM s$k t JOIN vocab v ON v.iscont = (t.start > 0)
           |    AND substr(t.word, t.start + 1, len(v.np)) = v.np),
           |p$k AS (SELECT * FROM (SELECT *, row_number() OVER (
           |    PARTITION BY doc_id, token_id ORDER BY plen DESC) AS rn FROM c$k) WHERE rn = 1),
           |s${k + 1} AS (SELECT doc_id, token_id, word, wb, start + plen AS start
           |  FROM p$k WHERE start + plen < len(word))""".stripMargin
      }.mkString(",\n")
      val unions = (0 until maxPieces).map(k => s"SELECT * FROM p$k").mkString(" UNION ALL ")
      s"""WITH $ToksCte,
         |vocab(np, iscont, id) AS (VALUES $vocabVals),
         |s0 AS (SELECT doc_id, token_id, text AS word, "begin" AS wb, 0 AS start FROM toks),
         |$stages,
         |pieces AS (SELECT doc_id, token_id, start, wb + start AS b,
         |    wb + start + plen AS e, id FROM ($unions)),
         |ordered AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY token_id, start) AS tid, b, e, id FROM pieces),
         |sep AS (SELECT d.doc_id, coalesce(max(o.tid), 0) + 1 AS tid,
         |    coalesce(max(o.e), 0) AS me
         |  FROM documents d LEFT JOIN ordered o ON d.doc_id = o.doc_id
         |  GROUP BY d.doc_id)
         |SELECT doc_id, CAST(tid AS INTEGER) AS token_id, b AS "begin", e AS "end",
         |  CAST(id AS BIGINT) AS input_id, 0 AS special FROM ordered
         |UNION ALL SELECT doc_id, 0, 0, 0, 101, 1 FROM documents
         |UNION ALL SELECT doc_id, CAST(tid AS INTEGER), me, me, 102, 1 FROM sep
         |UNION ALL SELECT doc_id, CAST(error(concat('q78 oracle: word "', word,
         |  '" not consumed in $maxPieces wordpiece stages')) AS INTEGER),
         |  0, 0, CAST(0 AS BIGINT), 1 FROM s$maxPieces""".stripMargin
    },

    "q52_repetition" ->
      s"""WITH $ShingleCte
         |SELECT s.doc_id, round(1.0 - CAST(len(s.h) AS DOUBLE) /
         |  greatest(len(w.w) - 2, 1), 4) AS repetition
         |FROM hs s JOIN ws0 w ON s.doc_id = w.doc_id""".stripMargin,

    "q67_vocab" ->
      s"""SELECT word, count(*) AS n, count(DISTINCT doc_id) AS nd
         |FROM (SELECT doc_id, unnest($Words) AS word FROM documents)
         |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin,

    "q12_exact_dup" ->
      """WITH d AS (SELECT doc_id, array_to_string((string_split(text, ' '))[1:3], ' ') AS k3 FROM documents),
        |g AS (SELECT k3, min(doc_id) AS keep_id, count(*) AS c FROM d GROUP BY k3)
        |SELECT g.keep_id, d.doc_id AS dup_id FROM d JOIN g USING (k3)
        |WHERE g.c > 1 AND d.doc_id <> g.keep_id""".stripMargin,

    "q13_minhash_bands" ->
      s"""WITH $MinhashCte
         |SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk""".stripMargin,

    "q14_minhash_pairs" ->
      s"""WITH $MinhashCte,
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b FROM bnd a
         |  JOIN bnd b2 ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id)
         |SELECT * FROM (SELECT id_a, id_b,
         |    floor((CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h)))) * 1e4 + 0.5) / 1e4 AS jaccard
         |  FROM cand JOIN hs x ON x.doc_id = cand.id_a JOIN hs y ON y.doc_id = cand.id_b)
         |WHERE jaccard >= 0.7""".stripMargin,

    // Connected components over the q14 pair graph: min reachable id per
    // node via a recursive CTE (UNION dedups, so the fixpoint terminates).
    "q72_dup_clusters" ->
      s"""WITH RECURSIVE $MinhashCte,
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b FROM bnd a
         |  JOIN bnd b2 ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id),
         |pr AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
         |    CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h))) AS j
         |  FROM cand JOIN hs x ON x.doc_id = cand.id_a JOIN hs y ON y.doc_id = cand.id_b)
         |  WHERE floor(j * 1e4 + 0.5) / 1e4 >= 0.7),
         |e AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach AS (SELECT a AS n, a AS r FROM e
         |  UNION SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.n)
         |SELECT n AS doc_id, min(r) AS cluster_id FROM reach GROUP BY n""".stripMargin,

    // Mirror of Dedup.duplicatedSpans(n=8, minDocs=2): positional 8-gram
    // hashes → hashes in >=2 distinct docs → per-doc consecutive-position
    // runs → maximal [begin_tok, end_tok) spans.
    "q81_dup_spans" ->
      s"""WITH ws0 AS (SELECT doc_id, $Words AS w FROM documents),
         |gl AS (SELECT doc_id, list_transform(generate_series(0, len(w) - 8),
         |         i -> ${H("array_to_string(list_slice(w, i + 1, i + 8), ' ')")}) AS hl FROM ws0),
         |g AS (SELECT doc_id, generate_subscripts(hl, 1) - 1 AS pos, unnest(hl) AS h FROM gl),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |hit AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
         |brks AS (SELECT doc_id, pos, CASE WHEN pos = lag(pos)
         |    OVER (PARTITION BY doc_id ORDER BY pos) + 1 THEN 0 ELSE 1 END AS brk FROM hit),
         |runs AS (SELECT doc_id, pos, sum(brk)
         |    OVER (PARTITION BY doc_id ORDER BY pos) AS run FROM brks)
         |SELECT doc_id, min(pos) AS begin_tok, max(pos) + 8 AS end_tok
         |FROM runs GROUP BY doc_id, run""".stripMargin,

    // Mirror of TextAnalysis.bigramLogProb: corpus bigram/unigram counts
    // on the portable gram hashes, ln(c2/c1) per position, position-
    // ordered fold for the per-doc mean.
    "q86_bigram_lm" ->
      s"""WITH $BigramLmCte
         |SELECT d.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams, agg.avg_lp
         |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,

    // Mirror of TextAnalysis.nbQualityClassifier: hashed-unigram Naive
    // Bayes with Laplace smoothing over the 2^16 bucket space, seed =
    // sources src0-src4; per-doc position-ordered llr fold + prior.
    "q157_nb_quality" ->
      s"""WITH tok AS (SELECT doc_id, is_pos,
         |    generate_subscripts(hl, 1) - 1 AS pos, unnest(hl) % 65536 AS bucket
         |  FROM (SELECT doc_id,
         |      CASE WHEN source IN ('src0','src1','src2','src3','src4')
         |        THEN 1 ELSE 0 END AS is_pos,
         |      list_transform($Words, w -> ${H("w")}) AS hl FROM documents)),
         |bc AS (SELECT bucket, sum(is_pos) AS c_pos, sum(1 - is_pos) AS c_neg
         |  FROM tok GROUP BY bucket),
         |tt AS (SELECT sum(is_pos) AS ntp, sum(1 - is_pos) AS ntn FROM tok),
         |dt AS (SELECT sum(CASE WHEN source IN ('src0','src1','src2','src3','src4')
         |      THEN 1 ELSE 0 END) AS ndp,
         |    sum(CASE WHEN source IN ('src0','src1','src2','src3','src4')
         |      THEN 0 ELSE 1 END) AS ndn FROM documents),
         |model AS (SELECT bucket,
         |    ln(CAST(c_pos + 1 AS DOUBLE) / (ntp + 65536)) -
         |    ln(CAST(c_neg + 1 AS DOUBLE) / (ntn + 65536)) AS llr FROM bc, tt),
         |sc AS (SELECT doc_id, count(*) AS n_tokens,
         |    list_reduce(list_prepend(0.0, list(llr ORDER BY pos)),
         |      (a, x) -> a + x) AS s
         |  FROM tok JOIN model USING (bucket) GROUP BY doc_id),
         |fin AS (SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
         |    round(ln(CAST(ndp AS DOUBLE) / ndn) + coalesce(sc.s, 0.0), 4) AS score
         |  FROM documents d LEFT JOIN sc USING (doc_id), dt)
         |SELECT doc_id, n_tokens, score,
         |  CASE WHEN score > 0 THEN 1 ELSE 0 END AS label FROM fin""".stripMargin,

    // Mirror of TextAnalysis.hllDistinctTokens (p=12): 62-bit packed
    // double hash, components quadratic-cross-mixed mod P; mixed base-31
    // low 12 bits -> register, mixed base-131 component is the 31-bit
    // rank word (leading zeros via bin() length), per-register MAX,
    // bucket-ordered 2^-M fold, alpha*m^2/S with linear-counting
    // small-range correction.
    "q158_hll_distinct" ->
      s"""WITH tok AS (SELECT source AS grp,
         |    unnest(list_transform($Words,
         |      w -> ${H("w")} * CAST(2147483647 AS BIGINT) + ${H131("w")})) AS h
         |  FROM documents),
         |x AS (SELECT grp, h // 2147483647 AS x1, h % 2147483647 AS x2
         |  FROM tok),
         |u AS (SELECT grp,
         |    (((x1 * x1) % 2147483647) * 16807 + x2 * 40692 + 12345)
         |      % 2147483647 AS u1,
         |    (((x2 * x2) % 2147483647) * 48271 + x1 * 69621 + 54321)
         |      % 2147483647 AS u2
         |  FROM x),
         |reg AS (SELECT grp, u1 & 4095 AS bucket,
         |    max(CASE WHEN u2 = 0 THEN 32
         |      ELSE 32 - length(ltrim(bin(u2), '0')) END) AS r,
         |    count(*) AS c
         |  FROM u GROUP BY grp, bucket),
         |g AS (SELECT grp, count(*) AS n_regs, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    list(r ORDER BY bucket) AS rs FROM reg GROUP BY grp),
         |s AS (SELECT grp, n_tokens, n_regs,
         |    list_reduce(list_prepend(CAST(4096 - n_regs AS DOUBLE),
         |      list_transform(rs, r -> pow(2.0, -r))), (a, b) -> a + b) AS s
         |  FROM g),
         |fin AS (SELECT grp, n_tokens, n_regs,
         |    0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0 / s AS raw
         |  FROM s)
         |SELECT grp AS source, n_tokens, n_regs,
         |  round(CASE WHEN raw <= 2.5 * 4096.0 AND n_regs < 4096
         |    THEN 4096.0 * ln(4096.0 / CAST(4096 - n_regs AS DOUBLE))
         |    ELSE raw END, 4) AS est_distinct
         |FROM fin""".stripMargin,

    // Count-Min sketch probe counts: same WideHash + quadratic mix as
    // q158, then d=4 double-hashing rows (u1 + i*u2 mod P, low 10 bits),
    // counter = count per (grp, row, bucket), estimate = min over the
    // probe token's 4 counters (missing counter = 0).
    "q163_cms_counts" ->
      s"""WITH tok AS (SELECT source AS grp,
         |    unnest(list_transform($Words,
         |      w -> ${H("w")} * CAST(2147483647 AS BIGINT) + ${H131("w")})) AS h
         |  FROM documents),
         |x AS (SELECT grp, h // 2147483647 AS x1, h % 2147483647 AS x2
         |  FROM tok),
         |u AS (SELECT grp,
         |    (((x1 * x1) % 2147483647) * 16807 + x2 * 40692 + 12345)
         |      % 2147483647 AS u1,
         |    (((x2 * x2) % 2147483647) * 48271 + x1 * 69621 + 54321)
         |      % 2147483647 AS u2
         |  FROM x),
         |rws AS (SELECT unnest([0, 1, 2, 3]) AS rw),
         |reg AS (SELECT grp, rw,
         |    ((u1 + rw * u2) % 2147483647) & 1023 AS bucket,
         |    count(*) AS cnt
         |  FROM u CROSS JOIN rws GROUP BY grp, rw, bucket),
         |probes AS (SELECT unnest(['scan', 'window', 'spark', 'hash',
         |    'stream', 'zqxabsent']) AS token),
         |pu AS (SELECT token,
         |    ${H("token")} AS px1, ${H131("token")} AS px2 FROM probes),
         |pm AS (SELECT token,
         |    (((px1 * px1) % 2147483647) * 16807 + px2 * 40692 + 12345)
         |      % 2147483647 AS u1,
         |    (((px2 * px2) % 2147483647) * 48271 + px1 * 69621 + 54321)
         |      % 2147483647 AS u2
         |  FROM pu),
         |pb AS (SELECT token, rw,
         |    ((u1 + rw * u2) % 2147483647) & 1023 AS bucket
         |  FROM pm CROSS JOIN rws),
         |grps AS (SELECT DISTINCT grp FROM reg)
         |SELECT g.grp AS source, p.token,
         |  CAST(min(coalesce(r.cnt, 0)) AS BIGINT) AS est_count
         |FROM grps g CROSS JOIN pb p
         |LEFT JOIN reg r ON r.grp = g.grp AND r.rw = p.rw
         |  AND r.bucket = p.bucket
         |GROUP BY g.grp, p.token""".stripMargin,

    // Token-length histogram quantile sketch: quarter-octave integer
    // bins (bitlen via bin() string length, the q158 trick), per-group
    // bin counts, percentile = lower bound of the first bin whose
    // cumulative count reaches q·n (integer comparison), lower bound =
    // 2^(b-1)*(4+quarter) // 4.
    "q165_len_quantiles" ->
      s"""WITH lens AS (SELECT source AS grp,
         |    CAST(length($Words) AS BIGINT) AS len FROM documents),
         |bins AS (SELECT grp,
         |    length(bin(len)) * 4 +
         |      ((len * 4) // CAST(pow(2, length(bin(len)) - 1) AS BIGINT)) % 4
         |      AS bin
         |  FROM lens),
         |reg AS (SELECT grp, bin, count(*) AS cnt FROM bins GROUP BY grp, bin),
         |g AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM reg GROUP BY grp),
         |c AS (SELECT grp, bin,
         |    CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS BIGINT)
         |      AS cum
         |  FROM reg),
         |p50 AS (SELECT c.grp, min(bin) AS b FROM c JOIN g USING (grp)
         |  WHERE cum * 100 >= 50 * n GROUP BY c.grp),
         |p95 AS (SELECT c.grp, min(bin) AS b FROM c JOIN g USING (grp)
         |  WHERE cum * 100 >= 95 * n GROUP BY c.grp)
         |SELECT g.grp AS source, g.n AS n_docs,
         |  CAST(pow(2, (p50.b // 4) - 1) AS BIGINT) * (4 + p50.b % 4) // 4
         |    AS p50_est,
         |  CAST(pow(2, (p95.b // 4) - 1) AS BIGINT) * (4 + p95.b % 4) // 4
         |    AS p95_est
         |FROM g JOIN p50 USING (grp) JOIN p95 USING (grp)""".stripMargin,

    // One-permutation MinHash source signatures: same WideHash +
    // quadratic mix as q158; mixed base-31 low 12 bits -> bucket (the
    // HLL register addressing), packed 62-bit u1*P+u2 -> rank minimized
    // per (grp, bucket); pairwise estimate joins signatures on bucket
    // (src_a < src_b), n_both co-occupied, n_eq agreeing minima,
    // est_jaccard = n_eq over UNION-occupied buckets (n_a + n_b -
    // n_both; the unbiased one-perm estimator — dividing by n_both
    // conditions on co-occupancy, which discards the single-token
    // buckets that can only be co-occupied when shared, inflating J),
    // half-up-rounded to 4 decimals.
    "q167_src_jaccard_sketch" ->
      s"""WITH tok AS (SELECT source AS grp,
         |    unnest(list_transform($Words,
         |      w -> ${H("w")} * CAST(2147483647 AS BIGINT) + ${H131("w")})) AS h
         |  FROM documents),
         |x AS (SELECT grp, h // 2147483647 AS x1, h % 2147483647 AS x2
         |  FROM tok),
         |u AS (SELECT grp,
         |    (((x1 * x1) % 2147483647) * 16807 + x2 * 40692 + 12345)
         |      % 2147483647 AS u1,
         |    (((x2 * x2) % 2147483647) * 48271 + x1 * 69621 + 54321)
         |      % 2147483647 AS u2
         |  FROM x),
         |sig AS (SELECT grp, u1 & 4095 AS bucket,
         |    min(u1 * CAST(2147483647 AS BIGINT) + u2) AS v
         |  FROM u GROUP BY grp, bucket),
         |siz AS (SELECT grp, count(*) AS n_occ FROM sig GROUP BY grp),
         |p AS (SELECT a.grp AS src_a, b.grp AS src_b,
         |    count(*) AS n_both,
         |    sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS n_eq
         |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.grp < b.grp
         |  GROUP BY a.grp, b.grp)
         |SELECT src_a, src_b, CAST(n_both AS BIGINT) AS n_both,
         |  CAST(n_eq AS BIGINT) AS n_eq,
         |  floor(n_eq / (sa.n_occ + sb.n_occ - n_both) * 1e4 + 0.5) / 1e4
         |    AS est_jaccard
         |FROM p JOIN siz sa ON sa.grp = p.src_a
         |JOIN siz sb ON sb.grp = p.src_b""".stripMargin,

    // CCNet-style perplexity bucketing: q86's bigram-LM scores, then a
    // per-language cume_dist over the unique (avg_lp DESC NULLS LAST,
    // doc_id) ordering and head/middle/tail labels.
    "q128_ccnet_buckets" ->
      s"""WITH $BigramLmCte,
         |sc AS (SELECT d.doc_id, d.lang, coalesce(agg.n_bigrams, 0) AS n_bigrams, agg.avg_lp
         |  FROM documents d LEFT JOIN agg USING (doc_id)),
         |pc AS (SELECT *, round(cume_dist() OVER (PARTITION BY lang
         |    ORDER BY avg_lp DESC NULLS LAST, doc_id), 6) AS pct FROM sc)
         |SELECT doc_id, lang, n_bigrams, avg_lp, pct,
         |  CASE WHEN avg_lp IS NULL THEN 'tail'
         |       WHEN pct <= 0.3 THEN 'head'
         |       WHEN pct <= 1.0 - 0.3 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM pc""".stripMargin,

    // Mirror of the q87 corpus datasheet: same quality arithmetic as q08,
    // folded as an exact integer sum before one final double division.
    "q87_corpus_report" -> {
      val en = ratio(operators.TextAnalysis.StopwordsEn)
      s"""WITH x AS (SELECT doc_id, source, lang, text, $Words AS ws FROM documents),
         |c AS (SELECT source, lang, len(ws) AS nw,
         |  least(CAST(len(ws) AS DOUBLE) / 200.0, 1.0) AS lc,
         |  greatest(0.0, 1.0 - (CASE WHEN len(text) > 0
         |    THEN CAST(len(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END) * 5) AS pp,
         |  CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws)
         |       ELSE 0.0 END AS mwl,
         |  $en AS en FROM x),
         |q AS (SELECT source, lang, nw,
         |  round(lc*0.4 + pp*0.2 + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.5 END)*0.2
         |    + (CASE WHEN en > 0.05 THEN 1.0 ELSE 0.7 END)*0.2, 4) AS quality FROM c)
         |SELECT source, lang, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS DOUBLE)
         |    / count(*)) / 10000.0 AS mean_quality
         |FROM q GROUP BY source, lang""".stripMargin
    },

    // Mirror of TextAnalysis.importanceSample(rate=0.5): keep iff
    // portable_hash(text)/P < rate × quality.
    "q88_importance_sample" -> {
      val en = ratio(operators.TextAnalysis.StopwordsEn)
      s"""WITH x AS (SELECT doc_id, text, $Words AS ws FROM documents),
         |c AS (SELECT doc_id, text, len(ws) AS nw,
         |  least(CAST(len(ws) AS DOUBLE) / 200.0, 1.0) AS lc,
         |  greatest(0.0, 1.0 - (CASE WHEN len(text) > 0
         |    THEN CAST(len(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END) * 5) AS pp,
         |  CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws)
         |       ELSE 0.0 END AS mwl,
         |  $en AS en FROM x),
         |q AS (SELECT doc_id, text,
         |  round(lc*0.4 + pp*0.2 + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.5 END)*0.2
         |    + (CASE WHEN en > 0.05 THEN 1.0 ELSE 0.7 END)*0.2, 4) AS quality FROM c)
         |SELECT doc_id FROM q
         |WHERE CAST(${H("text")} AS DOUBLE) / 2147483647 < 0.5 * quality""".stripMargin
    },

    // BPE merge-schedule mirror: the 16 per-iteration best pairs from
    // the chained-CTE re-derivation, stacked with their ranks.
    "q145_bpe_train" -> {
      val rows = (1 to 16).map(i =>
        s"SELECT CAST($i AS INTEGER) AS merge_rank, l AS lhs, r AS rhs, " +
          s"l || r AS merged, cnt AS pair_freq FROM b$i")
        .mkString("\nUNION ALL ")
      s"WITH ${bpeCtes(16)}\n$rows"
    },

    // Learned-vocab fertility mirror: every corpus word re-encoded by the
    // 16 re-derived merges (nested replaces in rank order), token count =
    // '(' count, engine's per-language sums and half-up 1e-4 rounding.
    // Each b_i is wrapped in a guarded g_i that falls back to a sentinel
    // no-op merge (l = r = '' — the search string "()()"  can never occur
    // in a bracket encoding of non-empty symbols) when the corpus
    // exhausts before 16 merges: without the guard an empty b_i would
    // empty the cross join and report words=0 while the engine computes
    // real counts from its shorter learned schedule.
    "q146_bpe_fertility" -> {
      val guards = (1 to 16).map(i =>
        s"g$i AS (SELECT l, r FROM b$i UNION ALL SELECT '', '' " +
          s"WHERE NOT EXISTS (SELECT 1 FROM b$i))").mkString(",\n")
      val e = (1 to 16).foldLeft("e")((acc, i) =>
        s"replace($acc, '(' || g$i.l || ')(' || g$i.r || ')', '(' || g$i.l || g$i.r || ')')")
      val bs = (1 to 16).map("g" + _).mkString(", ")
      s"""WITH ${bpeCtes(16)},
         |$guards,
         |dw AS (SELECT doc_id, lang, unnest($Words) AS word FROM documents),
         |ew AS (SELECT doc_id, lang,
         |  '(' || array_to_string(regexp_extract_all(word, '.'), ')(') || ')(_)' AS e FROM dw),
         |tf AS (SELECT doc_id, lang,
         |  CAST(length($e) - length(replace($e, '(', '')) AS BIGINT) AS nt FROM ew, $bs),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nw, CAST(sum(nt) AS BIGINT) AS ntok
         |  FROM tf GROUP BY doc_id),
         |ag AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(coalesce(pd.nw, 0)) AS BIGINT) AS words,
         |    CAST(sum(coalesce(pd.ntok, 0)) AS BIGINT) AS tokens
         |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id GROUP BY d.lang)
         |SELECT lang, n_docs, words, tokens,
         |  CASE WHEN words > 0 THEN floor(tokens / words * 1e4 + 0.5) / 1e4 END AS fertility
         |FROM ag""".stripMargin
    },

    // Mirror of Dedup.contaminatedDocs(n=8) with benchmark = src0 docs:
    // distinct 8-gram hashes per side, inner join, count per doc.
    // DSIR selection mirror: positional bigram hashes mod 4096, add-0.5
    // smoothed bucket log-probs (target = src0 slice vs whole corpus),
    // per-doc contributions folded in bucket order, half-up 1e-6 round,
    // global top-200 by (weight desc, doc_id).
    "q144_dsir_select" ->
      s"""WITH ws0 AS (SELECT doc_id, source, $Words AS w FROM documents),
         |gl AS (SELECT doc_id, source, list_transform(generate_series(0, len(w) - 2),
         |         i -> ${H("array_to_string(list_slice(w, i + 1, i + 2), ' ')")}) AS hl FROM ws0),
         |g AS (SELECT doc_id, source, unnest(hl) % 4096 AS b FROM gl),
         |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM g WHERE source = 'src0' GROUP BY b),
         |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tc),
         |sc AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY b),
         |ns AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM sc),
         |dc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY doc_id, b),
         |ct AS (SELECT dc.doc_id, dc.b,
         |    dc.c * (ln((coalesce(tc.c, 0) + 0.5) / (nt.n + 2048.0))
         |          - ln((coalesce(sc.c, 0) + 0.5) / (ns.n + 2048.0))) AS wv
         |  FROM dc LEFT JOIN tc USING (b) LEFT JOIN sc USING (b)
         |  CROSS JOIN nt CROSS JOIN ns),
         |wt AS (SELECT doc_id, floor(list_reduce(list_prepend(0.0, list(wv ORDER BY b)),
         |        (a, x) -> a + x) * 1e6 + 0.5) / 1e6 AS weight FROM ct GROUP BY doc_id)
         |SELECT doc_id, weight, rank FROM
         |  (SELECT *, CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS INTEGER) AS rank
         |   FROM wt)
         |WHERE rank <= 200""".stripMargin,

    "q83_decontaminate" ->
      s"""WITH ws0 AS (SELECT doc_id, source, $Words AS w FROM documents),
         |gl AS (SELECT doc_id, source, list_distinct(list_transform(generate_series(0, len(w) - 8),
         |         i -> ${H("array_to_string(list_slice(w, i + 1, i + 8), ' ')")})) AS hl FROM ws0),
         |g AS (SELECT doc_id, source, unnest(hl) AS h FROM gl),
         |bg AS (SELECT DISTINCT h FROM g WHERE source = 'src0')
         |SELECT doc_id, count(*) AS n_shared FROM g JOIN bg USING (h)
         |GROUP BY doc_id""".stripMargin,

    // Mirror of Dedup.stripSpans over Dedup.duplicatedSpans(n=8): the q81
    // span chain → covered positions → anti-join words → reassemble.
    "q84_strip_dup_spans" ->
      s"""WITH ws0 AS (SELECT doc_id, $Words AS w FROM documents),
         |gl AS (SELECT doc_id, list_transform(generate_series(0, len(w) - 8),
         |         i -> ${H("array_to_string(list_slice(w, i + 1, i + 8), ' ')")}) AS hl FROM ws0),
         |g AS (SELECT doc_id, generate_subscripts(hl, 1) - 1 AS pos, unnest(hl) AS h FROM gl),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |hit AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
         |brks AS (SELECT doc_id, pos, CASE WHEN pos = lag(pos)
         |    OVER (PARTITION BY doc_id ORDER BY pos) + 1 THEN 0 ELSE 1 END AS brk FROM hit),
         |runs AS (SELECT doc_id, pos, sum(brk)
         |    OVER (PARTITION BY doc_id ORDER BY pos) AS run FROM brks),
         |sp AS (SELECT doc_id, min(pos) AS bt, max(pos) + 8 AS et FROM runs GROUP BY doc_id, run),
         |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(bt, et - 1)) AS pos FROM sp),
         |wrd AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS word FROM ws0),
         |kept AS (SELECT wrd.doc_id, wrd.pos, wrd.word FROM wrd
         |  LEFT JOIN cov ON wrd.doc_id = cov.doc_id AND wrd.pos = cov.pos
         |  WHERE cov.pos IS NULL),
         |agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
         |    count(*) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(agg.clean_text, '') AS clean_text,
         |  coalesce(agg.n_kept, 0) AS n_kept
         |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,

    "q76_dedup_survivors" ->
      s"""WITH RECURSIVE $MinhashCte,
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b FROM bnd a
         |  JOIN bnd b2 ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id),
         |pr AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
         |    CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h))) AS j
         |  FROM cand JOIN hs x ON x.doc_id = cand.id_a JOIN hs y ON y.doc_id = cand.id_b)
         |  WHERE floor(j * 1e4 + 0.5) / 1e4 >= 0.7),
         |e AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach AS (SELECT a AS n, a AS r FROM e
         |  UNION SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.n),
         |losers AS (SELECT n FROM reach GROUP BY n HAVING n <> min(r))
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT n FROM losers)""".stripMargin,

    // q08's quality filter feeding the q76 dedup chain (minhash CTEs over
    // the FILTERED relation) with the q73 split assignment on survivors
    "q77_training_corpus" -> {
      val en = ratio(operators.TextAnalysis.StopwordsEn)
      val h = H("CAST(doc_id AS VARCHAR) || ':split'")
      s"""WITH RECURSIVE
         |q0 AS (SELECT doc_id, text, $Words AS ws FROM documents),
         |qc AS (SELECT doc_id, text,
         |  least(CAST(len(ws) AS DOUBLE) / 200.0, 1.0) AS lc,
         |  greatest(0.0, 1.0 - (CASE WHEN len(text) > 0
         |    THEN CAST(len(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END) * 5) AS pp,
         |  CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws)
         |       ELSE 0.0 END AS mwl,
         |  $en AS en FROM q0),
         |keptd AS (SELECT doc_id, text FROM qc
         |  WHERE round(lc*0.4 + pp*0.2 + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.5 END)*0.2
         |    + (CASE WHEN en > 0.05 THEN 1.0 ELSE 0.7 END)*0.2, 4) >= 0.62),
         |${minhashCte("keptd")},
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b FROM bnd a
         |  JOIN bnd b2 ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id),
         |pr AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
         |    CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h))) AS j
         |  FROM cand JOIN hs x ON x.doc_id = cand.id_a JOIN hs y ON y.doc_id = cand.id_b)
         |  WHERE floor(j * 1e4 + 0.5) / 1e4 >= 0.7),
         |e AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach AS (SELECT a AS n, a AS r FROM e
         |  UNION SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.n),
         |losers AS (SELECT n FROM reach GROUP BY n HAVING n <> min(r))
         |SELECT doc_id, CASE
         |  WHEN $h % 10000 < 9000 THEN 'train'
         |  WHEN $h % 10000 < 9500 THEN 'val'
         |  ELSE 'test' END AS split
         |FROM keptd WHERE doc_id NOT IN (SELECT n FROM losers)""".stripMargin
    },

    // Mirror of q89: the q77 chain restricted to lang='en', minus docs
    // sharing any 8-gram with the src0 benchmark slice (full corpus).
    "q89_corpus_v2" -> {
      val en = ratio(operators.TextAnalysis.StopwordsEn)
      val h = H("CAST(doc_id AS VARCHAR) || ':split'")
      val gramList =
        s"list_distinct(list_transform(generate_series(0, len(w) - 8), " +
          s"i -> ${H("array_to_string(list_slice(w, i + 1, i + 8), ' ')")}))"
      s"""WITH RECURSIVE
         |q0 AS (SELECT doc_id, text, $Words AS ws FROM documents WHERE lang = 'en'),
         |qc AS (SELECT doc_id, text,
         |  least(CAST(len(ws) AS DOUBLE) / 200.0, 1.0) AS lc,
         |  greatest(0.0, 1.0 - (CASE WHEN len(text) > 0
         |    THEN CAST(len(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END) * 5) AS pp,
         |  CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws)
         |       ELSE 0.0 END AS mwl,
         |  $en AS en FROM q0),
         |keptq AS (SELECT doc_id, text FROM qc
         |  WHERE round(lc*0.4 + pp*0.2 + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.5 END)*0.2
         |    + (CASE WHEN en > 0.05 THEN 1.0 ELSE 0.7 END)*0.2, 4) >= 0.62),
         |bg AS (SELECT DISTINCT unnest($gramList) AS h
         |  FROM (SELECT $Words AS w FROM documents WHERE source = 'src0')),
         |kg AS (SELECT doc_id, unnest($gramList) AS h
         |  FROM (SELECT doc_id, $Words AS w FROM keptq)),
         |contaminated AS (SELECT DISTINCT kg.doc_id FROM kg JOIN bg USING (h)),
         |keptd AS (SELECT doc_id, text FROM keptq
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |${minhashCte("keptd")},
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b FROM bnd a
         |  JOIN bnd b2 ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id),
         |pr AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
         |    CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h))) AS j
         |  FROM cand JOIN hs x ON x.doc_id = cand.id_a JOIN hs y ON y.doc_id = cand.id_b)
         |  WHERE floor(j * 1e4 + 0.5) / 1e4 >= 0.7),
         |e AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach AS (SELECT a AS n, a AS r FROM e
         |  UNION SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.n),
         |losers AS (SELECT n FROM reach GROUP BY n HAVING n <> min(r))
         |SELECT doc_id, CASE
         |  WHEN $h % 10000 < 9000 THEN 'train'
         |  WHEN $h % 10000 < 9500 THEN 'val'
         |  ELSE 'test' END AS split
         |FROM keptd WHERE doc_id NOT IN (SELECT n FROM losers)""".stripMargin
    },

    "q73_hash_split" ->
      s"""SELECT doc_id, CASE
         |  WHEN ${H("CAST(doc_id AS VARCHAR) || ':split'")} % 10000 < 9000 THEN 'train'
         |  WHEN ${H("CAST(doc_id AS VARCHAR) || ':split'")} % 10000 < 9500 THEN 'val'
         |  ELSE 'test' END AS split
         |FROM documents""".stripMargin,

    "q96_stratified_sample" ->
      s"""SELECT doc_id, source, rank FROM
         |  (SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source
         |     ORDER BY ${H("CAST(doc_id AS VARCHAR) || ':strat'")}, doc_id) AS INTEGER) AS rank
         |   FROM documents)
         |WHERE rank <= 50""".stripMargin,

    "q97_pmi_collocations" ->
      s"""WITH t AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
         |  FROM (SELECT doc_id, $Words AS ws FROM documents)),
         |bg AS (SELECT a.w AS wa, b.w AS wb FROM t a JOIN t b
         |  ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY w),
         |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni),
         |bc AS (SELECT wa, wb, CAST(count(*) AS BIGINT) AS cab FROM bg GROUP BY wa, wb),
         |btot AS (SELECT CAST(count(*) AS DOUBLE) AS b FROM bg)
         |SELECT wa, wb, cab,
         |  round(ln((CAST(cab AS DOUBLE) * tot.t * tot.t) /
         |    (btot.b * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 4) AS pmi
         |FROM bc JOIN uni ua ON ua.w = bc.wa JOIN uni ub ON ub.w = bc.wb
         |  CROSS JOIN tot CROSS JOIN btot
         |WHERE cab >= 5
         |ORDER BY pmi DESC, wa, wb LIMIT 100""".stripMargin,

    "q74_tfidf" ->
      s"""WITH terms AS (SELECT doc_id, unnest($Words) AS word FROM documents),
         |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, word),
         |df AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM terms GROUP BY word),
         |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         |scored AS (SELECT doc_id, word, tf, df,
         |    round(tf * ln(CAST(n.n AS DOUBLE) / df), 4) AS score
         |  FROM tf JOIN df USING (word) CROSS JOIN n)
         |SELECT doc_id, rank, word, tf, df, score FROM
         |  (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |     ORDER BY score DESC, word) AS INTEGER) AS rank FROM scored)
         |WHERE rank <= 3""".stripMargin,

    "q15_simhash" ->
      s"WITH $SimhashCte SELECT doc_id, f AS fp FROM fp",

    // q16 decision (round 7): the legacy 32-bit chunk-banding
    // (Dedup.simhashDupPairs) is RETIRED from the declared surface — its
    // bucket population grows with corpus size. q16 now runs the wide
    // fingerprint at a different operating point (maxDist=2 → 3 chunks of
    // ~21 bits) than q54 (maxDist=3 → 4 chunks of ~15 bits), so the two
    // declared queries cover distinct precision/recall trade-offs of the
    // one scale-safe shape. The legacy function stays in Dedup.scala as an
    // undeclared comparison path.
    "q16_simhash_pairs" -> simhashWideOracle(families = 2, maxDist = 2),

    "q54_simhash_wide" -> simhashWideOracle(families = 2, maxDist = 3),

    "q17_embed_pairs" ->
      s"""WITH $EmbCte,
         |bk AS (SELECT id, ${bucket("v")} AS bucket FROM ed),
         |pr AS (SELECT id, $ProbeExpr FROM bk),
         |cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b FROM pr a
         |  JOIN bk b2 ON a.pb = b2.bucket AND a.id < b2.id)
         |SELECT * FROM (SELECT id_a, id_b,
         |    (CASE WHEN c >= 0 THEN floor(c*1e4 + 0.5) ELSE -floor(-c*1e4 + 0.5) END) / 1e4 AS cos
         |  FROM (SELECT id_a, id_b, ${cos("x.v", "y.v")} AS c
         |    FROM cand JOIN ed x ON x.id = cand.id_a JOIN ed y ON y.id = cand.id_b))
         |WHERE cos >= 0.3""".stripMargin,

    "q18_ann_brute" ->
      s"""WITH $EmbCte,
         |q AS (SELECT id AS query_id, v AS qv FROM ed WHERE id < 5),
         |scored AS (SELECT query_id, id AS vec_id, round(${cos("qv", "v")}, 6) AS cos FROM ed CROSS JOIN q)
         |SELECT query_id, vec_id, cos, rn AS rank FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn FROM scored)
         |WHERE rn <= 10""".stripMargin,

    "q19_ann_lsh" ->
      s"""WITH $EmbCte,
         |bk AS (SELECT id, v, ${bucket("v")} AS bucket FROM ed),
         |pr AS (SELECT id AS query_id, $ProbeExpr FROM bk WHERE id < 5),
         |cand AS (SELECT DISTINCT pr.query_id, bk.id AS vec_id FROM pr JOIN bk ON pr.pb = bk.bucket),
         |scored AS (SELECT c.query_id, c.vec_id, round(${cos("q.v", "e2.v")}, 6) AS cos
         |  FROM cand c JOIN ed q ON q.id = c.query_id JOIN ed e2 ON e2.id = c.vec_id)
         |SELECT query_id, vec_id, cos, rn AS rank FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn FROM scored)
         |WHERE rn <= 10""".stripMargin,

    "q56_ann_ivf" ->
      s"""WITH $EmbCte,
         |f AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
         |cen AS (SELECT label AS cell_id, list(round(m, 6) ORDER BY dim) AS centroid FROM
         |  (SELECT label, dim, sum(x) / count(*) AS m FROM f GROUP BY label, dim)
         |  GROUP BY label),
         |asg AS (SELECT id AS vec_id, v AS cv, cell_id FROM
         |  (SELECT e.id, e.v, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c) WHERE rn = 1),
         |pr AS (SELECT id AS query_id, v AS qv, cell_id FROM
         |  (SELECT e.id, e.v, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c WHERE e.id < 5) WHERE rn <= 2),
         |scored AS (SELECT p.query_id, a.vec_id, round(${cos("p.qv", "a.cv")}, 6) AS cos
         |  FROM pr p JOIN asg a USING (cell_id))
         |SELECT query_id, vec_id, cos, rn AS rank FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
         |   FROM scored)
         |WHERE rn <= 10""".stripMargin,

    "q94_kmeans" ->
      s"""WITH $EmbCte,
         |${kmeansCtes(8, 2)}
         |SELECT id AS vec_id, cid AS cluster, round(dist, 6) AS dist FROM a3""".stripMargin,

    "q95_ann_ivf_kmeans" ->
      s"""WITH $EmbCte,
         |${kmeansCtes(8, 2)},
         |cen AS (SELECT cid AS cell_id, v AS centroid FROM c2),
         |asg AS (SELECT id AS vec_id, v AS cv, cell_id FROM
         |  (SELECT e.id, e.v, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c) WHERE rn = 1),
         |pr AS (SELECT id AS query_id, v AS qv, cell_id FROM
         |  (SELECT e.id, e.v, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c WHERE e.id < 5) WHERE rn <= 2),
         |scored AS (SELECT p.query_id, a.vec_id, round(${cos("p.qv", "a.cv")}, 6) AS cos
         |  FROM pr p JOIN asg a USING (cell_id))
         |SELECT query_id, vec_id, cos, rn AS rank FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
         |   FROM scored)
         |WHERE rn <= 10""".stripMargin,

    // Tokenizer fertility: integer sums per language, single double
    // divisions mirrored with the engine's floor(x*1e4+0.5)/1e4 grouping.
    "q130_fertility" ->
      s"""WITH x AS (SELECT lang, CAST(len($Words) AS BIGINT) AS nw,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}|[^A-Za-z0-9\\s]')) AS BIGINT) AS nt,
         |    CAST(len(text) AS BIGINT) AS nc FROM documents),
         |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(nw) AS BIGINT) AS words, CAST(sum(nt) AS BIGINT) AS tokens,
         |    CAST(sum(nc) AS BIGINT) AS chars FROM x GROUP BY lang)
         |SELECT lang, n_docs, words, tokens, chars,
         |  CASE WHEN words > 0 THEN floor(tokens / words * 1e4 + 0.5) / 1e4 END AS fertility,
         |  CASE WHEN tokens > 0 THEN floor(chars / tokens * 1e4 + 0.5) / 1e4 END AS chars_per_token
         |FROM a""".stripMargin,

    // N-gram novelty: the q10 shingle-hash sets, gram doc-frequency by
    // hash, per-doc shared-gram ratio with the engine's rounding.
    "q131_ngram_novelty" ->
      s"""WITH $ShingleCte,
         |g AS (SELECT doc_id, unnest(h) AS h FROM hs),
         |dfq AS (SELECT h, CAST(count(*) AS BIGINT) AS nd FROM g GROUP BY h),
         |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_grams
         |  FROM g JOIN dfq USING (h) GROUP BY doc_id)
         |SELECT doc_id, n_grams, shared_grams,
         |  floor((1.0 - shared_grams / n_grams) * 1e4 + 0.5) / 1e4 AS novelty
         |FROM a""".stripMargin,

    // Winnowing fingerprints: the engine's window min-fold mirrored with
    // list_reduce (first element as init, <= keeps the rightmost min).
    "q132_winnow" ->
      s"""WITH $WinnowCte
         |SELECT doc_id, CAST(f.p AS INTEGER) AS pos, f.h AS fp
         |FROM (SELECT doc_id, unnest(fps) AS f FROM ded)""".stripMargin,

    // Streaming semantic ingest dedup (batch path): batch side probes
    // the corpus's hashed-bucket index one-sided; a pair collides on
    // exactly one probe (distinct probe buckets), so no DISTINCT.
    "q136_stream_semantic_dedup" ->
      s"""WITH $EmbCte,
         |bk AS (SELECT id, v, ${bucketH("v")} AS bucket FROM ed),
         |pr AS (SELECT id AS batch_id, $ProbeExpr FROM bk WHERE id < 50),
         |cand AS (SELECT pr.batch_id, bk.id AS dup_id FROM pr
         |  JOIN bk ON pr.pb = bk.bucket WHERE pr.batch_id <> bk.id)
         |SELECT * FROM (SELECT batch_id, dup_id,
         |    (CASE WHEN c >= 0 THEN floor(c*1e4 + 0.5) ELSE -floor(-c*1e4 + 0.5) END) / 1e4 AS cos
         |  FROM (SELECT c.batch_id, c.dup_id, ${cos("x.v", "y.v")} AS c
         |    FROM cand c JOIN ed x ON x.id = c.batch_id JOIN ed y ON y.id = c.dup_id))
         |WHERE cos >= 0.3""".stripMargin,

    // Semantic self-updating loop mirror (q169's pattern on embeddings):
    // batch1 (vec_id%5=1) collides with the seed corpus (%5=0) only;
    // batch2 (%5=2) with the seed corpus AND batch1 (the rows the
    // engine's index absorbed between probes). Same probe-bucket join +
    // exact-cosine verify as q136; probe buckets are pairwise distinct,
    // so emission is exactly-once without DISTINCT.
    "q172_semantic_selfupdating" ->
      s"""WITH $EmbCte,
         |bk AS (SELECT id, v, ${bucketH("v")} AS bucket FROM ed),
         |pr AS (SELECT id AS batch_id, $ProbeExpr FROM bk WHERE id % 5 IN (1, 2)),
         |cand AS (SELECT pr.batch_id, bk.id AS dup_id FROM pr
         |  JOIN bk ON pr.pb = bk.bucket
         |  WHERE (pr.batch_id % 5 = 1 AND bk.id % 5 = 0)
         |     OR (pr.batch_id % 5 = 2 AND bk.id % 5 IN (0, 1)))
         |SELECT * FROM (SELECT batch_id, dup_id,
         |    (CASE WHEN c >= 0 THEN floor(c*1e4 + 0.5) ELSE -floor(-c*1e4 + 0.5) END) / 1e4 AS cos
         |  FROM (SELECT c.batch_id, c.dup_id, ${cos("x.v", "y.v")} AS c
         |    FROM cand c JOIN ed x ON x.id = c.batch_id JOIN ed y ON y.id = c.dup_id))
         |WHERE cos >= 0.3""".stripMargin,

    // Semantic takedown: q172's sequential semantics with a delete
    // interleaved between the batches — even-id vectors among
    // everything ingested before batch2 (seed %5=0 and batch1 %5=1) are
    // tombstoned, so batch2's candidate clause keeps only odd-id
    // corpus members. Batch1's clause is untouched (no ledger existed
    // at its probe).
    "q174_semantic_takedown" ->
      s"""WITH $EmbCte,
         |bk AS (SELECT id, v, ${bucketH("v")} AS bucket FROM ed),
         |pr AS (SELECT id AS batch_id, $ProbeExpr FROM bk WHERE id % 5 IN (1, 2)),
         |cand AS (SELECT pr.batch_id, bk.id AS dup_id FROM pr
         |  JOIN bk ON pr.pb = bk.bucket
         |  WHERE (pr.batch_id % 5 = 1 AND bk.id % 5 = 0)
         |     OR (pr.batch_id % 5 = 2 AND bk.id % 5 IN (0, 1) AND bk.id % 2 = 1))
         |SELECT * FROM (SELECT batch_id, dup_id,
         |    (CASE WHEN c >= 0 THEN floor(c*1e4 + 0.5) ELSE -floor(-c*1e4 + 0.5) END) / 1e4 AS cos
         |  FROM (SELECT c.batch_id, c.dup_id, ${cos("x.v", "y.v")} AS c
         |    FROM cand c JOIN ed x ON x.id = c.batch_id JOIN ed y ON y.id = c.dup_id))
         |WHERE cos >= 0.3""".stripMargin,

    // Cross-source overlap matrix: distinct (source, gram-hash) pairs,
    // self-join on hash, per-pair counts + first-source fraction.
    "q135_source_overlap" ->
      s"""WITH ws0 AS (SELECT doc_id, source, $Words AS w FROM documents),
         |sh0 AS (SELECT source, CASE WHEN len(w) >= 3
         |          THEN list_transform(generate_series(0, len(w) - 3),
         |                 i -> array_to_string(list_slice(w, i + 1, i + 3), ' '))
         |          ELSE [array_to_string(w, ' ')] END AS s FROM ws0),
         |g AS (SELECT DISTINCT source, ${H("t")} AS h
         |  FROM (SELECT source, unnest(s) AS t FROM sh0)),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS grams_a FROM g GROUP BY source),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(count(*) AS BIGINT) AS shared_grams
         |  FROM g a JOIN g b ON a.h = b.h GROUP BY 1, 2)
         |SELECT src_a, src_b, shared_grams, grams_a,
         |  floor(shared_grams / grams_a * 1e4 + 0.5) / 1e4 AS overlap_frac
         |FROM pr JOIN tot ON pr.src_a = tot.source""".stripMargin,

    // Blocklist filter: banned-word hit count + keep verdict.
    "q134_blocklist" ->
      s"""SELECT doc_id, CAST(len(list_filter($Words,
         |    w -> list_contains(['slow', 'dup', 'stale'], w))) AS BIGINT) AS n_banned,
         |  len(list_filter($Words,
         |    w -> list_contains(['slow', 'dup', 'stale'], w))) = 0 AS keep
         |FROM documents""".stripMargin,

    // Winnowing overlap pairs: distinct fingerprint hashes per doc, pair
    // equi-join on hash, shared-count threshold.
    "q133_winnow_pairs" ->
      s"""WITH $WinnowCte,
         |dfp AS (SELECT DISTINCT doc_id, f.h AS fp
         |  FROM (SELECT doc_id, unnest(fps) AS f FROM ded)),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(count(*) AS BIGINT) AS shared_fps
         |  FROM dfp a JOIN dfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, shared_fps FROM pr WHERE shared_fps >= 3""".stripMargin,

    // Hard-negative mining: q19's bucket/probe chain shape over the
    // HASHED plane family (bucketH — the engine's nPlanes scale knob
    // needs a family that stays distinct as planes grow), every vector
    // an anchor, candidates must carry a different label.
    "q129_hard_negatives" ->
      s"""WITH $EmbCte,
         |lb AS (SELECT vec_id AS id, label FROM embeddings),
         |bk AS (SELECT id, v, ${bucketH("v")} AS bucket FROM ed),
         |pr AS (SELECT id AS a_id, $ProbeExpr FROM bk),
         |cand AS (SELECT pr.a_id, bk.id AS n_id FROM pr
         |  JOIN bk ON pr.pb = bk.bucket
         |  JOIN lb la ON la.id = pr.a_id JOIN lb ln ON ln.id = bk.id
         |  WHERE pr.a_id <> bk.id AND la.label <> ln.label),
         |scored AS (SELECT c.a_id AS anchor_id, c.n_id AS neg_id,
         |    round(${cos("a.v", "n.v")}, 6) AS cos
         |  FROM cand c JOIN ed a ON a.id = c.a_id JOIN ed n ON n.id = c.n_id)
         |SELECT anchor_id, neg_id, cos, rn AS rank FROM
         |  (SELECT *, CAST(row_number() OVER (PARTITION BY anchor_id
         |     ORDER BY cos DESC, neg_id) AS INTEGER) AS rn FROM scored)
         |WHERE rn <= 3""".stripMargin,

    // BM25 retrieval: same expression-tree groupings as the engine
    // ((idf * (tf*(k1+1))) / (tf + k1*((1-b) + b*dl/avgdl))), term-ordered
    // fold of per-term scores, half-up 4dp floor, ties by doc_id.
    "q127_bm25" ->
      s"""WITH qt(query_id, term) AS (VALUES (0, 'spark'), (0, 'join'), (0, 'fast'),
         |  (1, 'window'), (1, 'sort'), (2, 'vector'), (2, 'hash'), (2, 'query')),
         |dl AS (SELECT doc_id, CAST(len($Words) AS DOUBLE) AS dl FROM documents),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
         |tok AS (SELECT doc_id, unnest($Words) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
         |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |sc AS (SELECT q.query_id, t.doc_id, t.term,
         |    ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * (1.2 + 1)) /
         |      (t.tf + 1.2 * ((1 - 0.75) + 0.75 * l.dl / st.avgdl)) AS s
         |  FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id)
         |  CROSS JOIN st JOIN qt q USING (term)),
         |agg AS (SELECT query_id, doc_id,
         |    floor(list_reduce(list_prepend(0.0, list(s ORDER BY term)),
         |      (u, w) -> u + w) * 1e4 + 0.5) / 1e4 AS score
         |  FROM sc GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, score, rank FROM
         |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |     ORDER BY score DESC, doc_id) AS INTEGER) AS rank FROM agg)
         |WHERE rank <= 10""".stripMargin,

    // Product quantization: per-subspace Lloyd's (same determinism rules
    // as q94 applied per subspace), final per-(id, subspace) code + exact
    // quantization error.
    "q125_pq_encode" ->
      s"""WITH $EmbCte,
         |${pqCtes(8, 16, 2)}
         |SELECT id AS vec_id, CAST(sub AS INTEGER) AS sub, cid AS code,
         |  round(dist, 6) AS dist FROM pa3""".stripMargin,

    // PQ asymmetric-distance top-k: per-subspace ||q_sub - codeword||^2
    // folds summed in subspace order (the engine's left-assoc add chain;
    // (0+d0)=d0 exactly, so the fold groupings match bit-for-bit).
    "q126_pq_adc" ->
      s"""WITH $EmbCte,
         |${pqCtes(8, 16, 2)},
         |qsv AS (SELECT id AS query_id, sub, v AS qv FROM psv WHERE id < 5),
         |sd AS (SELECT q.query_id, a.id AS vec_id, q.sub, ${sqDist("q.qv", "c.v")} AS dist
         |  FROM qsv q JOIN pa3 a ON q.sub = a.sub
         |  JOIN pc2 c ON a.sub = c.sub AND a.cid = c.cid),
         |scored AS (SELECT query_id, vec_id,
         |  round(list_reduce(list_prepend(0.0, list(dist ORDER BY sub)),
         |    (u, w) -> u + w), 6) AS adc
         |  FROM sd GROUP BY query_id, vec_id)
         |SELECT query_id, vec_id, adc, rank FROM
         |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |     ORDER BY adc, vec_id) AS INTEGER) AS rank FROM scored)
         |WHERE rank <= 10""".stripMargin,

    // IVFADC mirror: q95's cosine cell routing (kmeans c2 centroids →
    // corpus assignment rn=1, query probes rn<=2) composed with q126's
    // per-subspace ADC folds — but the scored pairs are RESTRICTED to
    // the probed-cell candidates (the cand join), re-deriving exactly
    // the inverted-list scan the engine's cell_id join performs.
    "q149_ivfpq" ->
      s"""WITH $EmbCte,
         |${kmeansCtes(8, 2)},
         |${pqCtes(8, 16, 2)},
         |cen AS (SELECT cid AS cell_id, v AS centroid FROM c2),
         |asg AS (SELECT id AS vec_id, cell_id FROM
         |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c) WHERE rn = 1),
         |pr AS (SELECT id AS query_id, cell_id FROM
         |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c WHERE e.id < 5) WHERE rn <= 2),
         |cand AS (SELECT DISTINCT p.query_id, a.vec_id
         |  FROM pr p JOIN asg a USING (cell_id)),
         |qsv AS (SELECT id AS query_id, sub, v AS qv FROM psv WHERE id < 5),
         |sd AS (SELECT q.query_id, a.id AS vec_id, q.sub, ${sqDist("q.qv", "c.v")} AS dist
         |  FROM qsv q JOIN pa3 a ON q.sub = a.sub
         |  JOIN pc2 c ON a.sub = c.sub AND a.cid = c.cid
         |  JOIN cand ON cand.query_id = q.query_id AND cand.vec_id = a.id),
         |scored AS (SELECT query_id, vec_id,
         |  round(list_reduce(list_prepend(0.0, list(dist ORDER BY sub)),
         |    (u, w) -> u + w), 6) AS adc
         |  FROM sd GROUP BY query_id, vec_id)
         |SELECT query_id, vec_id, adc, rank FROM
         |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |     ORDER BY adc, vec_id) AS INTEGER) AS rank FROM scored)
         |WHERE rank <= 10""".stripMargin,

    // IVFADC+R mirror: q149's CTE chain through the ADC scores, then the
    // rerank tail — top-R=40 shortlist by (adc asc, vec_id), exact cosine
    // re-score of just those rows, final top-10 by (cos desc, vec_id).
    "q170_ivfpq_rerank" ->
      s"""WITH $EmbCte,
         |${kmeansCtes(8, 2)},
         |${pqCtes(8, 16, 2)},
         |cen AS (SELECT cid AS cell_id, v AS centroid FROM c2),
         |asg AS (SELECT id AS vec_id, cell_id FROM
         |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c) WHERE rn = 1),
         |pr AS (SELECT id AS query_id, cell_id FROM
         |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c WHERE e.id < 5) WHERE rn <= 2),
         |cand AS (SELECT DISTINCT p.query_id, a.vec_id
         |  FROM pr p JOIN asg a USING (cell_id)),
         |qsv AS (SELECT id AS query_id, sub, v AS qv FROM psv WHERE id < 5),
         |sd AS (SELECT q.query_id, a.id AS vec_id, q.sub, ${sqDist("q.qv", "c.v")} AS dist
         |  FROM qsv q JOIN pa3 a ON q.sub = a.sub
         |  JOIN pc2 c ON a.sub = c.sub AND a.cid = c.cid
         |  JOIN cand ON cand.query_id = q.query_id AND cand.vec_id = a.id),
         |scored AS (SELECT query_id, vec_id,
         |  round(list_reduce(list_prepend(0.0, list(dist ORDER BY sub)),
         |    (u, w) -> u + w), 6) AS adc
         |  FROM sd GROUP BY query_id, vec_id),
         |short AS (SELECT query_id, vec_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY adc, vec_id) AS rr FROM scored) WHERE rr <= 40),
         |rer AS (SELECT s.query_id, s.vec_id, round(${cos("qe.v", "ce.v")}, 6) AS cos
         |  FROM short s JOIN ed qe ON qe.id = s.query_id
         |  JOIN ed ce ON ce.id = s.vec_id)
         |SELECT query_id, vec_id, cos, rank FROM
         |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |     ORDER BY cos DESC, vec_id) AS INTEGER) AS rank FROM rer)
         |WHERE rank <= 10""".stripMargin,

    // RESIDUAL IVFADC mirror (true IVFADC, Jégou 2011 §III): q149's
    // routing (cosine cells) but the PQ chain fits and encodes the
    // RESIDUALS x − centroid(cell) (pqResidualCtes), and each query's
    // ADC side is its per-probed-cell residual q − centroid(cell) —
    // ‖(q−c) − pq(x−c)‖² summed per subspace, same folds, 6dp round,
    // rank by (adc, vec_id).
    "q180_ivfpq_residual" ->
      s"""WITH $EmbCte,
         |${kmeansCtes(8, 2)},
         |cen AS (SELECT cid AS cell_id, v AS centroid FROM c2),
         |asg AS (SELECT id AS vec_id, cell_id FROM
         |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c) WHERE rn = 1),
         |${pqResidualCtes(8, 16, 2)},
         |pr AS (SELECT id AS query_id, cell_id FROM
         |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c WHERE e.id < 5) WHERE rn <= 2),
         |qr AS (SELECT p.query_id, p.cell_id,
         |    list_transform(e.v, (x, i) -> x - c.centroid[i]) AS qv
         |  FROM pr p JOIN ed e ON e.id = p.query_id
         |  JOIN cen c ON c.cell_id = p.cell_id),
         |rqsv AS (SELECT query_id, cell_id, sub,
         |    list_slice(qv, sub*8+1, sub*8+8) AS v FROM qr CROSS JOIN rsubs),
         |rsd AS (SELECT q.query_id, a.vec_id, q.sub, ${sqDist("q.v", "c.v")} AS dist
         |  FROM rqsv q JOIN asg a ON a.cell_id = q.cell_id
         |  JOIN rpa3 pa ON pa.id = a.vec_id AND pa.sub = q.sub
         |  JOIN rpc2 c ON c.sub = pa.sub AND c.cid = pa.cid),
         |rscored AS (SELECT query_id, vec_id,
         |  round(list_reduce(list_prepend(0.0, list(dist ORDER BY sub)),
         |    (u, w) -> u + w), 6) AS adc
         |  FROM rsd GROUP BY query_id, vec_id)
         |SELECT query_id, vec_id, adc, rank FROM
         |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |     ORDER BY adc, vec_id) AS INTEGER) AS rank FROM rscored)
         |WHERE rank <= 10""".stripMargin,

    // FILTERED ANN mirror (round-20): q180's residual chain with the
    // metadata predicate (label % 2 = 0) restricting the CANDIDATE set
    // before ADC scoring — rank-k over the filtered set, exactly the
    // engine's pushed-filter semantics — then q170's rerank tail
    // (top-R=40 shortlist by (adc, vec_id), exact cosine re-score,
    // final top-10 by (cos desc, vec_id)). The fits are over the FULL
    // corpus (frozen-quantizer contract; the filter is probe-time).
    "q188_filtered_ann" ->
      s"""WITH $EmbCte,
         |${kmeansCtes(8, 2)},
         |cen AS (SELECT cid AS cell_id, v AS centroid FROM c2),
         |asg AS (SELECT id AS vec_id, cell_id FROM
         |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c) WHERE rn = 1),
         |${pqResidualCtes(8, 16, 2)},
         |lab AS (SELECT vec_id AS id FROM embeddings WHERE label % 2 = 0),
         |pr AS (SELECT id AS query_id, cell_id FROM
         |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c WHERE e.id < 5) WHERE rn <= 2),
         |qr AS (SELECT p.query_id, p.cell_id,
         |    list_transform(e.v, (x, i) -> x - c.centroid[i]) AS qv
         |  FROM pr p JOIN ed e ON e.id = p.query_id
         |  JOIN cen c ON c.cell_id = p.cell_id),
         |rqsv AS (SELECT query_id, cell_id, sub,
         |    list_slice(qv, sub*8+1, sub*8+8) AS v FROM qr CROSS JOIN rsubs),
         |rsd AS (SELECT q.query_id, a.vec_id, q.sub, ${sqDist("q.v", "c.v")} AS dist
         |  FROM rqsv q JOIN asg a ON a.cell_id = q.cell_id
         |  JOIN lab ON lab.id = a.vec_id
         |  JOIN rpa3 pa ON pa.id = a.vec_id AND pa.sub = q.sub
         |  JOIN rpc2 c ON c.sub = pa.sub AND c.cid = pa.cid),
         |rscored AS (SELECT query_id, vec_id,
         |  round(list_reduce(list_prepend(0.0, list(dist ORDER BY sub)),
         |    (u, w) -> u + w), 6) AS adc
         |  FROM rsd GROUP BY query_id, vec_id),
         |short AS (SELECT query_id, vec_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY adc, vec_id) AS rr FROM rscored) WHERE rr <= 40),
         |rer AS (SELECT s.query_id, s.vec_id, round(${cos("qe.v", "ce.v")}, 6) AS cos
         |  FROM short s JOIN ed qe ON qe.id = s.query_id
         |  JOIN ed ce ON ce.id = s.vec_id)
         |SELECT query_id, vec_id, cos, rank FROM
         |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |     ORDER BY cos DESC, vec_id) AS INTEGER) AS rank FROM rer)
         |WHERE rank <= 10""".stripMargin,

    // DRIFT STATISTIC mirror (round-19): q180's residual fit chain, then
    // per-generation totals of the FINAL encode's per-assignment dist —
    // gen 0 over the corpus (rpa3's own assignments), gen 1 over the
    // declared drifted batch (ids+1e6, vectors ×3 — same cosine
    // routing, fresh residuals) encoded against the SAME rpc2 books.
    // Each dist rounds to 6dp (pqEncode's contract) before the rounded
    // sum; the verdict cross-multiplies totals by counts exactly as
    // Similarity.refreshResidualIfDrifted.
    "q187_drift_stat" ->
      s"""WITH $EmbCte,
         |${kmeansCtes(8, 2)},
         |cen AS (SELECT cid AS cell_id, v AS centroid FROM c2),
         |asg AS (SELECT id AS vec_id, cell_id FROM
         |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c) WHERE rn = 1),
         |${pqResidualCtes(8, 16, 2)},
         |st0 AS (SELECT count(DISTINCT id) AS n,
         |    round(sum(round(dist, 6)), 6) AS t FROM rpa3),
         |ed2 AS (SELECT id + 1000000 AS id,
         |    list_transform(v, x -> x * 3.0) AS v FROM ed),
         |asg2 AS (SELECT id AS vec_id, cell_id FROM
         |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed2 e CROSS JOIN cen c) WHERE rn = 1),
         |red2 AS (SELECT e.id, list_transform(e.v, (x, i) -> x - c.centroid[i]) AS v
         |  FROM ed2 e JOIN asg2 a ON a.vec_id = e.id JOIN cen c ON c.cell_id = a.cell_id),
         |rpsv2 AS (SELECT id, sub, list_slice(v, sub*8+1, sub*8+8) AS v
         |  FROM red2 CROSS JOIN rsubs),
         |rpd2x AS (SELECT p.id, p.sub, c.cid, ${sqDist("p.v", "c.v")} AS dist
         |  FROM rpsv2 p JOIN rpc2 c USING (sub)),
         |rpa2x AS (SELECT id, sub, dist FROM (SELECT *, row_number() OVER
         |  (PARTITION BY id, sub ORDER BY dist, cid) AS rn FROM rpd2x) WHERE rn = 1),
         |st1 AS (SELECT count(DISTINCT id) AS n,
         |    round(sum(round(dist, 6)), 6) AS t FROM rpa2x)
         |SELECT CAST(0 AS BIGINT) AS gen, n, t AS total_err, false AS refresh_due FROM st0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), st1.n, st1.t,
         |  st1.t * st0.n > 2.0 * st0.t * st1.n FROM st1, st0""".stripMargin,

    // Semantic dedup: k-means assignment (same unrolled CTEs as q94),
    // then within-cluster lower-id cosine >= 0.9 marks duplicates.
    // The 4dp stabilization mirrors the engine's sign-aware
    // half-away-from-zero floor (cosine can be negative).
    "q98_semantic_dedup" ->
      s"""WITH $EmbCte,
         |${kmeansCtes(8, 2)},
         |sided AS (SELECT a.id, a.cid AS cluster, e.v FROM a3 a JOIN ed e USING (id)),
         |pairs AS (SELECT a.id, ${cos("a.v", "b.v")} AS c FROM sided a JOIN sided b
         |  ON a.cluster = b.cluster AND b.id < a.id),
         |dup AS (SELECT DISTINCT id FROM pairs
         |  WHERE (CASE WHEN c >= 0 THEN floor(c*1e4+0.5) ELSE -floor(-c*1e4+0.5) END) / 1e4 >= 0.9)
         |SELECT id AS vec_id, cluster, id IN (SELECT id FROM dup) AS is_dup
         |FROM sided""".stripMargin,

    // Cluster-balanced diversity sampling: q94's k-means assignment, then
    // q96's salted-hash rank window per cluster, cap 20.
    "q113_diversity_sample" ->
      s"""WITH $EmbCte,
         |${kmeansCtes(8, 2)}
         |SELECT id AS vec_id, cid AS cluster, rank FROM
         |  (SELECT id, cid, CAST(row_number() OVER (PARTITION BY cid
         |     ORDER BY ${H("CAST(id AS VARCHAR) || ':div'")}, id) AS INTEGER) AS rank
         |   FROM a3)
         |WHERE rank <= 20""".stripMargin,

    // Fuzzy decontamination: the q14 MinHash-LSH candidate/verify chain,
    // but candidates are corpus × src0-benchmark (self-pairs excluded)
    // and the output aggregates per contaminated corpus doc.
    "q114_fuzzy_decontaminate" ->
      s"""WITH $MinhashCte,
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |bench AS (SELECT doc_id FROM documents WHERE source = 'src0'),
         |cand AS (SELECT DISTINCT c.doc_id, b2.doc_id AS bench_id FROM bnd c
         |  JOIN bnd b2 ON c.band = b2.band AND c.key = b2.key
         |  JOIN bench ON b2.doc_id = bench.doc_id
         |  WHERE c.doc_id <> b2.doc_id),
         |j AS (SELECT cand.doc_id,
         |    floor((CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h)))) * 1e4 + 0.5) / 1e4 AS jaccard
         |  FROM cand JOIN hs x ON x.doc_id = cand.doc_id JOIN hs y ON y.doc_id = cand.bench_id)
         |SELECT doc_id, count(*) AS n_bench, max(jaccard) AS max_jaccard
         |FROM j WHERE jaccard >= 0.7 GROUP BY doc_id""".stripMargin,

    // Corpus-wide duplicate-line removal over derived 12-word lines:
    // first occurrence (min packed (doc, line) position) of each distinct
    // non-blank line survives; documents reassemble from surviving lines.
    "q116_dedup_lines" ->
      s"""WITH src AS (SELECT doc_id, list_transform(
         |    generate_series(0, greatest(CAST(ceil(len(ws) / 12.0) AS BIGINT) - 1, 0)),
         |    i -> array_to_string(list_slice(ws, i*12 + 1, (i+1)*12), ' ')) AS ls
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         |l AS (SELECT doc_id, generate_subscripts(ls, 1) - 1 AS line_idx, unnest(ls) AS line FROM src),
         |k AS (SELECT doc_id, line_idx, line, trim(line) = '' AS blank,
         |    doc_id*1000000 + line_idx AS pk FROM l),
         |f AS (SELECT line, min(pk) AS first FROM k WHERE NOT blank GROUP BY line),
         |kept AS (SELECT k.doc_id, k.line_idx, k.line, k.blank FROM k LEFT JOIN f USING (line)
         |  WHERE k.blank OR k.pk = f.first),
         |g AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_idx) AS clean_text,
         |    CAST(count(*) FILTER (WHERE NOT blank) AS BIGINT) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(g.clean_text, '') AS clean_text,
         |  coalesce(g.n_kept, 0) AS n_kept
         |FROM documents d LEFT JOIN g USING (doc_id)""".stripMargin,

    // Per-source quality calibration: q08's quality arithmetic with the
    // source carried through, then cume_dist within source (ties share a
    // value, so the percentile is row-order-independent).
    "q115_quality_calibrate" -> {
      val en = ratio(operators.TextAnalysis.StopwordsEn)
      s"""WITH x AS (SELECT doc_id, source, text, $Words AS ws FROM documents),
         |c AS (SELECT doc_id, source,
         |  least(CAST(len(ws) AS DOUBLE) / 200.0, 1.0) AS lc,
         |  greatest(0.0, 1.0 - (CASE WHEN len(text) > 0
         |    THEN CAST(len(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END) * 5) AS pp,
         |  CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws)
         |       ELSE 0.0 END AS mwl,
         |  $en AS en FROM x),
         |q AS (SELECT doc_id, source, round(lc*0.4 + pp*0.2 + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.5 END)*0.2
         |  + (CASE WHEN en > 0.05 THEN 1.0 ELSE 0.7 END)*0.2, 4) AS quality FROM c)
         |SELECT doc_id, source, quality, pct, pct > 0.5 AS keep FROM
         |  (SELECT doc_id, source, quality,
         |     round(cume_dist() OVER (PARTITION BY source ORDER BY quality), 6) AS pct FROM q)""".stripMargin
    },

    // Incremental ingest dedup: q14's minhash machinery with the corpus
    // split into batch (doc_id ≡ 3 mod 7) and corpus sides; batch×corpus
    // pairs plus batch-internal lower-id-wins pairs, both exact-Jaccard
    // verified.
    "q117_incremental_dedup" ->
      s"""WITH $MinhashCte,
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (
         |  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS dup_id, 'corpus' AS dup_src
         |  FROM bnd b JOIN bnd c ON b.band = c.band AND b.key = c.key
         |  WHERE b.doc_id % 7 = 3 AND c.doc_id % 7 <> 3
         |  UNION
         |  SELECT DISTINCT b2.doc_id, a.doc_id, 'batch'
         |  FROM bnd a JOIN bnd b2 ON a.band = b2.band AND a.key = b2.key
         |    AND a.doc_id < b2.doc_id
         |  WHERE a.doc_id % 7 = 3 AND b2.doc_id % 7 = 3)
         |SELECT * FROM (SELECT batch_id, dup_id,
         |    floor((CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h)))) * 1e4 + 0.5) / 1e4 AS jaccard,
         |    dup_src
         |  FROM cand JOIN hs x ON x.doc_id = cand.batch_id JOIN hs y ON y.doc_id = cand.dup_id)
         |WHERE jaccard >= 0.7""".stripMargin,

    // Source-mixture resampling: basis-point weights (src0 2.5x, src1
    // 0.4x, default 1x), floor copies + salted-hash fractional accept.
    "q118_mix_corpus" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CASE WHEN source = 'src0' THEN 25000
         |         WHEN source = 'src1' THEN 4000 ELSE 10000 END AS bp,
         |    ${H("CAST(doc_id AS VARCHAR) || ':mix'")} % 10000 AS u
         |  FROM documents),
         |c AS (SELECT doc_id, source,
         |    CAST(bp // 10000 + CASE WHEN u < bp % 10000 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
         |  FROM d)
         |SELECT doc_id, source, unnest(generate_series(0, n_copies - 1)) AS epoch, n_copies
         |FROM c WHERE n_copies > 0""".stripMargin,

    // Leakage-safe split: q72's recursive-CTE components, cluster id
    // defaulting to the doc's own id, q73's split CASE on the cluster id.
    "q124_cluster_split" ->
      s"""WITH RECURSIVE $MinhashCte,
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b FROM bnd a
         |  JOIN bnd b2 ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id),
         |pr AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
         |    CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h))) AS j
         |  FROM cand JOIN hs x ON x.doc_id = cand.id_a JOIN hs y ON y.doc_id = cand.id_b)
         |  WHERE floor(j * 1e4 + 0.5) / 1e4 >= 0.7),
         |e AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach AS (SELECT a AS n, a AS r FROM e
         |  UNION SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.n),
         |cl AS (SELECT n AS doc_id, min(r) AS cluster_id FROM reach GROUP BY n),
         |wc AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, cluster_id, CASE
         |  WHEN ${H("CAST(cluster_id AS VARCHAR) || ':split'")} % 10000 < 9000 THEN 'train'
         |  WHEN ${H("CAST(cluster_id AS VARCHAR) || ':split'")} % 10000 < 9500 THEN 'val'
         |  ELSE 'test' END AS split
         |FROM wc""".stripMargin,

    // Fold-merged entity spans to match: q31's entity machinery with the
    // even/odd fold tag and the doc_num % 3 match filter.
    "q123_combine_raw_spans" ->
      s"""WITH $ToksCte, $EntsCte
         |SELECT CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'test' END AS fold,
         |  doc_id AS doc_num, begin_tok, end_tok, "begin", "end", ent_type
         |FROM ents WHERE ft = 'B' AND doc_id % 3 = 0""".stripMargin,

    // Token-level classification report: q122's gold/pred rules, sklearn
    // zero_division=0 arithmetic, the transposed-report accuracy row
    // (scalar broadcast into all four columns), 6dp-floored like q105.
    "q122_class_report" -> {
      def r6(e: String) = s"floor(($e) * 1e6 + 0.5) / 1e6"
      s"""WITH $ToksCte,
         |lab AS (SELECT
         |    CASE WHEN text = 'key' THEN 'K' WHEN text = 'value' THEN 'V' ELSE 'O' END AS gold,
         |    CASE WHEN token_id % 11 = 0 THEN 'X' WHEN token_id % 5 = 0 THEN 'O'
         |         WHEN text = 'key' THEN 'K' WHEN text = 'value' THEN 'V' ELSE 'O' END AS pred
         |  FROM toks),
         |gx AS (SELECT gold AS label, CAST(count(*) AS DOUBLE) AS ng FROM lab GROUP BY gold),
         |px AS (SELECT pred AS label, CAST(count(*) AS DOUBLE) AS np FROM lab GROUP BY pred),
         |tx AS (SELECT gold AS label, CAST(count(*) AS DOUBLE) AS nt FROM lab WHERE gold = pred GROUP BY gold),
         |per AS (SELECT coalesce(gx.label, px.label) AS label, coalesce(ng, 0) AS ng,
         |    coalesce(np, 0) AS np, coalesce(nt, 0) AS nt
         |  FROM gx FULL JOIN px ON gx.label = px.label
         |  LEFT JOIN tx ON coalesce(gx.label, px.label) = tx.label),
         |f AS (SELECT label, ng, prec, rec,
         |    CASE WHEN prec + rec > 0 THEN 2 * prec * rec / (prec + rec) ELSE 0.0 END AS f1
         |  FROM (SELECT label, ng,
         |      CASE WHEN np > 0 THEN nt / np ELSE 0.0 END AS prec,
         |      CASE WHEN ng > 0 THEN nt / ng ELSE 0.0 END AS rec FROM per)),
         |tot AS (SELECT sum(ng) AS n, (SELECT sum(nt) FROM per) AS tp,
         |    avg(prec) AS mp, avg(rec) AS mr, avg(f1) AS mf,
         |    sum(prec * ng) / sum(ng) AS wp, sum(rec * ng) / sum(ng) AS wr,
         |    sum(f1 * ng) / sum(ng) AS wf FROM f)
         |SELECT label, ${r6("prec")} AS precision, ${r6("rec")} AS recall,
         |  ${r6("f1")} AS f1_score, ${r6("ng")} AS support FROM f
         |UNION ALL SELECT 'accuracy', ${r6("tp / n")}, ${r6("tp / n")},
         |  ${r6("tp / n")}, ${r6("tp / n")} FROM tot
         |UNION ALL SELECT 'macro avg', ${r6("mp")}, ${r6("mr")}, ${r6("mf")},
         |  ${r6("n")} FROM tot
         |UNION ALL SELECT 'weighted avg', ${r6("wp")}, ${r6("wr")}, ${r6("wf")},
         |  ${r6("n")} FROM tot""".stripMargin
    },

    // Split-leakage audit: q73's split arithmetic + q83's per-doc-distinct
    // 8-gram machinery, train grams deduped, per-split counts.
    "q121_split_leakage" ->
      s"""WITH ws0 AS (SELECT doc_id, CASE
         |    WHEN ${H("CAST(doc_id AS VARCHAR) || ':split'")} % 10000 < 9000 THEN 'train'
         |    WHEN ${H("CAST(doc_id AS VARCHAR) || ':split'")} % 10000 < 9500 THEN 'val'
         |    ELSE 'test' END AS split, $Words AS w FROM documents),
         |gl AS (SELECT doc_id, split, list_distinct(list_transform(generate_series(0, len(w) - 8),
         |         i -> ${H("array_to_string(list_slice(w, i + 1, i + 8), ' ')")})) AS hl FROM ws0),
         |g AS (SELECT doc_id, split, unnest(hl) AS h FROM gl),
         |tg AS (SELECT DISTINCT h FROM g WHERE split = 'train'),
         |lk AS (SELECT split, count(DISTINCT doc_id) AS n_docs_leaked, count(*) AS n_shared_grams
         |  FROM g JOIN tg USING (h) WHERE split <> 'train' GROUP BY split),
         |tot AS (SELECT split, count(*) AS n_docs FROM ws0 WHERE split <> 'train' GROUP BY split)
         |SELECT tot.split, n_docs, coalesce(n_docs_leaked, 0) AS n_docs_leaked,
         |  coalesce(n_shared_grams, 0) AS n_shared_grams
         |FROM tot LEFT JOIN lk USING (split)""".stripMargin,

    // Streaming ingest dedup, batch path: exactly q117's corpus branch —
    // first-shared-band emission yields one row per (batch, corpus) pair,
    // which is what DISTINCT candidates + verify produce.
    "q120_stream_ingest_dedup" ->
      s"""WITH $MinhashCte,
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS dup_id
         |  FROM bnd b JOIN bnd c ON b.band = c.band AND b.key = c.key
         |  WHERE b.doc_id % 7 = 3 AND c.doc_id % 7 <> 3)
         |SELECT * FROM (SELECT batch_id, dup_id,
         |    floor((CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h)))) * 1e4 + 0.5) / 1e4 AS jaccard
         |  FROM cand JOIN hs x ON x.doc_id = cand.batch_id JOIN hs y ON y.doc_id = cand.dup_id)
         |WHERE jaccard >= 0.7""".stripMargin,

    // q117's stored-index incremental probe with the round-17 slimmed
    // corpus slice (%7 in (0,1)): corpus branch membership restricted,
    // batch-vs-batch branch unchanged.
    "q160_indexed_incremental" ->
      s"""WITH $MinhashCte,
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (
         |  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS dup_id, 'corpus' AS dup_src
         |  FROM bnd b JOIN bnd c ON b.band = c.band AND b.key = c.key
         |  WHERE b.doc_id % 7 = 3 AND c.doc_id % 7 IN (0, 1)
         |  UNION
         |  SELECT DISTINCT b2.doc_id, a.doc_id, 'batch'
         |  FROM bnd a JOIN bnd b2 ON a.band = b2.band AND a.key = b2.key
         |    AND a.doc_id < b2.doc_id
         |  WHERE a.doc_id % 7 = 3 AND b2.doc_id % 7 = 3)
         |SELECT * FROM (SELECT batch_id, dup_id,
         |    floor((CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h)))) * 1e4 + 0.5) / 1e4 AS jaccard,
         |    dup_src
         |  FROM cand JOIN hs x ON x.doc_id = cand.batch_id JOIN hs y ON y.doc_id = cand.dup_id)
         |WHERE jaccard >= 0.7""".stripMargin,

    // q120's stored-index probe with the round-17 slimmed corpus slice
    // (%7 in (0,1)) — the probe machinery is result-identical to the
    // recompute form by construction (index rows ARE the band
    // projection; key pruning is a semantic no-op), so the oracle is
    // q120's with the corpus membership swapped in.
    "q159_indexed_ingest_dedup" ->
      s"""WITH $MinhashCte,
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS dup_id
         |  FROM bnd b JOIN bnd c ON b.band = c.band AND b.key = c.key
         |  WHERE b.doc_id % 7 = 3 AND c.doc_id % 7 IN (0, 1))
         |SELECT * FROM (SELECT batch_id, dup_id,
         |    floor((CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h)))) * 1e4 + 0.5) / 1e4 AS jaccard
         |  FROM cand JOIN hs x ON x.doc_id = cand.batch_id JOIN hs y ON y.doc_id = cand.dup_id)
         |WHERE jaccard >= 0.7""".stripMargin,

    // Streaming crawl ingest mirror: the stream side's text is the
    // EXTRACTED text of its synthetic page (q150's chain), the corpus
    // side raw text; then exactly q120's band-join + first-shared-band
    // (DISTINCT) + exact-Jaccard-verify pipeline.
    "q156_stream_crawl_ingest" ->
      s"""WITH src156 AS (SELECT doc_id,
         |    coalesce(array_to_string(${htmlBlocksSql(htmlPageSql("doc_id", "lang", "text"))}, chr(10)), '') AS text
         |  FROM documents),
         |${minhashCte("src156")},
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS dup_id
         |  FROM bnd b JOIN bnd c ON b.band = c.band AND b.key = c.key
         |  WHERE b.doc_id % 7 = 3 AND c.doc_id % 7 <> 3)
         |SELECT * FROM (SELECT batch_id, dup_id,
         |    floor((CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h)))) * 1e4 + 0.5) / 1e4 AS jaccard
         |  FROM cand JOIN hs x ON x.doc_id = cand.batch_id JOIN hs y ON y.doc_id = cand.dup_id)
         |WHERE jaccard >= 0.7""".stripMargin,

    // Self-updating ingest loop mirror: the sequential two-batch
    // semantics flattened — batch1 (doc_id%7=3) collides with the seed
    // corpus (%21=0) only; batch2 (%7=5) collides with the seed corpus
    // AND batch1 (the rows the engine's index absorbed between the
    // probes). The seed slice is %21 (round-17, slimmed): the loop's
    // declared recurring unit is one micro-batch's probe + absorb, so
    // the seed build the query pays at construction is kept small —
    // the machinery is slice-independent. Same band-join +
    // first-shared-band (DISTINCT) + exact Jaccard verify as q120.
    "q169_selfupdating_ingest" ->
      s"""WITH $MinhashCte,
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (
         |  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS dup_id
         |  FROM bnd b JOIN bnd c ON b.band = c.band AND b.key = c.key
         |  WHERE b.doc_id % 7 = 3 AND c.doc_id % 21 = 0
         |  UNION
         |  SELECT DISTINCT b.doc_id, c.doc_id
         |  FROM bnd b JOIN bnd c ON b.band = c.band AND b.key = c.key
         |  WHERE b.doc_id % 7 = 5 AND (c.doc_id % 21 = 0 OR c.doc_id % 7 = 3))
         |SELECT * FROM (SELECT batch_id, dup_id,
         |    floor((CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h)))) * 1e4 + 0.5) / 1e4 AS jaccard
         |  FROM cand JOIN hs x ON x.doc_id = cand.batch_id JOIN hs y ON y.doc_id = cand.dup_id)
         |WHERE jaccard >= 0.7""".stripMargin,

    // Takedown propagation: q169's sequential semantics with a delete
    // interleaved between the batches — even-id documents among
    // everything ingested before batch2 (seed %21=0 and batch1 %7=3)
    // are tombstoned, so batch2's candidate clause keeps only odd-id
    // corpus members. Batch1's clause is untouched (the ledger was
    // empty at its probe).
    "q173_takedown_ingest" ->
      s"""WITH $MinhashCte,
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (
         |  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS dup_id
         |  FROM bnd b JOIN bnd c ON b.band = c.band AND b.key = c.key
         |  WHERE b.doc_id % 7 = 3 AND c.doc_id % 21 = 0
         |  UNION
         |  SELECT DISTINCT b.doc_id, c.doc_id
         |  FROM bnd b JOIN bnd c ON b.band = c.band AND b.key = c.key
         |  WHERE b.doc_id % 7 = 5 AND (c.doc_id % 21 = 0 OR c.doc_id % 7 = 3)
         |    AND c.doc_id % 2 = 1)
         |SELECT * FROM (SELECT batch_id, dup_id,
         |    floor((CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h)))) * 1e4 + 0.5) / 1e4 AS jaccard
         |  FROM cand JOIN hs x ON x.doc_id = cand.batch_id JOIN hs y ON y.doc_id = cand.dup_id)
         |WHERE jaccard >= 0.7""".stripMargin,

    // Hybrid retrieval RRF: q127's BM25 chain (lexical top-10) and q18's
    // exact-cosine chain restricted to queries 0..2 (semantic top-10),
    // fused with the system-ordered 1/(60+rank) fold — each contribution
    // is one exact IEEE division, the sum folds lexical-then-semantic on
    // both sides, half-up 6dp floor, ties by doc_id.
    "q175_rrf_fusion" ->
      s"""WITH qt(query_id, term) AS (VALUES (0, 'spark'), (0, 'join'), (0, 'fast'),
         |  (1, 'window'), (1, 'sort'), (2, 'vector'), (2, 'hash'), (2, 'query')),
         |dl AS (SELECT doc_id, CAST(len($Words) AS DOUBLE) AS dl FROM documents),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
         |tok AS (SELECT doc_id, unnest($Words) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
         |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |sc AS (SELECT q.query_id, t.doc_id, t.term,
         |    ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * (1.2 + 1)) /
         |      (t.tf + 1.2 * ((1 - 0.75) + 0.75 * l.dl / st.avgdl)) AS s
         |  FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id)
         |  CROSS JOIN st JOIN qt q USING (term)),
         |lexs AS (SELECT query_id, doc_id,
         |    floor(list_reduce(list_prepend(0.0, list(s ORDER BY term)),
         |      (u, w) -> u + w) * 1e4 + 0.5) / 1e4 AS score
         |  FROM sc GROUP BY query_id, doc_id),
         |lexr AS (SELECT query_id, doc_id, rank FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY score DESC, doc_id) AS rank FROM lexs)
         |  WHERE rank <= 10),
         |$EmbCte,
         |qv AS (SELECT id AS query_id, v AS qvec FROM ed WHERE id < 3),
         |sems AS (SELECT query_id, id AS doc_id, round(${cos("qvec", "v")}, 6) AS cos
         |  FROM ed CROSS JOIN qv),
         |semr AS (SELECT query_id, doc_id, rank FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY cos DESC, doc_id) AS rank FROM sems)
         |  WHERE rank <= 10),
         |contrib AS (SELECT query_id, doc_id, 0 AS sys, 1.0 / (60 + rank) AS part FROM lexr
         |  UNION ALL SELECT query_id, doc_id, 1, 1.0 / (60 + rank) FROM semr),
         |fused AS (SELECT query_id, doc_id,
         |    floor(list_reduce(list_prepend(0.0, list(part ORDER BY sys)),
         |      (u, w) -> u + w) * 1e6 + 0.5) / 1e6 AS rrf
         |  FROM contrib GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, rrf, rank FROM
         |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |     ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank FROM fused)
         |WHERE rank <= 10""".stripMargin,

    // STORED-INDEX hybrid retrieval mirror: q175's lexical BM25 chain
    // fused with q170's IVFADC+R rerank chain (queries 0..2) — the
    // batch-scale composition where the semantic side reads the
    // persisted PQ index and reranks its bounded shortlist exactly as
    // q170, and the fuse is the same system-ordered 1/(60+rank) fold.
    "q181_hybrid_stored" ->
      s"""WITH qt(query_id, term) AS (VALUES (0, 'spark'), (0, 'join'), (0, 'fast'),
         |  (1, 'window'), (1, 'sort'), (2, 'vector'), (2, 'hash'), (2, 'query')),
         |dl AS (SELECT doc_id, CAST(len($Words) AS DOUBLE) AS dl FROM documents),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
         |tok AS (SELECT doc_id, unnest($Words) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
         |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |sc AS (SELECT q.query_id, t.doc_id, t.term,
         |    ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * (1.2 + 1)) /
         |      (t.tf + 1.2 * ((1 - 0.75) + 0.75 * l.dl / st.avgdl)) AS s
         |  FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id)
         |  CROSS JOIN st JOIN qt q USING (term)),
         |lexs AS (SELECT query_id, doc_id,
         |    floor(list_reduce(list_prepend(0.0, list(s ORDER BY term)),
         |      (u, w) -> u + w) * 1e4 + 0.5) / 1e4 AS score
         |  FROM sc GROUP BY query_id, doc_id),
         |lexr AS (SELECT query_id, doc_id, rank FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY score DESC, doc_id) AS rank FROM lexs)
         |  WHERE rank <= 10),
         |$EmbCte,
         |${kmeansCtes(8, 2)},
         |${pqCtes(8, 16, 2)},
         |cen AS (SELECT cid AS cell_id, v AS centroid FROM c2),
         |asg AS (SELECT id AS vec_id, cell_id FROM
         |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c) WHERE rn = 1),
         |pr AS (SELECT id AS query_id, cell_id FROM
         |  (SELECT e.id, c.cell_id, row_number() OVER (PARTITION BY e.id
         |     ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cell_id) AS rn
         |   FROM ed e CROSS JOIN cen c WHERE e.id < 3) WHERE rn <= 2),
         |cand AS (SELECT DISTINCT p.query_id, a.vec_id
         |  FROM pr p JOIN asg a USING (cell_id)),
         |qsv AS (SELECT id AS query_id, sub, v AS qv FROM psv WHERE id < 3),
         |sd AS (SELECT q.query_id, a.id AS vec_id, q.sub, ${sqDist("q.qv", "c.v")} AS dist
         |  FROM qsv q JOIN pa3 a ON q.sub = a.sub
         |  JOIN pc2 c ON a.sub = c.sub AND a.cid = c.cid
         |  JOIN cand ON cand.query_id = q.query_id AND cand.vec_id = a.id),
         |scored AS (SELECT query_id, vec_id,
         |  round(list_reduce(list_prepend(0.0, list(dist ORDER BY sub)),
         |    (u, w) -> u + w), 6) AS adc
         |  FROM sd GROUP BY query_id, vec_id),
         |short AS (SELECT query_id, vec_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY adc, vec_id) AS rr FROM scored) WHERE rr <= 40),
         |rer AS (SELECT s.query_id, s.vec_id, round(${cos("qe.v", "ce.v")}, 6) AS cos
         |  FROM short s JOIN ed qe ON qe.id = s.query_id
         |  JOIN ed ce ON ce.id = s.vec_id),
         |semr AS (SELECT query_id, vec_id AS doc_id, rank FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY cos DESC, vec_id) AS rank FROM rer)
         |  WHERE rank <= 10),
         |contrib AS (SELECT query_id, doc_id, 0 AS sys, 1.0 / (60 + rank) AS part FROM lexr
         |  UNION ALL SELECT query_id, doc_id, 1, 1.0 / (60 + rank) FROM semr),
         |fused AS (SELECT query_id, doc_id,
         |    floor(list_reduce(list_prepend(0.0, list(part ORDER BY sys)),
         |      (u, w) -> u + w) * 1e6 + 0.5) / 1e6 AS rrf
         |  FROM contrib GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, rrf, rank FROM
         |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |     ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank FROM fused)
         |WHERE rank <= 10""".stripMargin,

    // WEIGHTED RRF mirror: q175's two ranking chains, fused with
    // per-system weights — 0.75/(60+rank) lexical, 1.5/(60+rank)
    // semantic, each one exact IEEE division, same system-ordered fold.
    "q182_rrf_weighted" ->
      s"""WITH qt(query_id, term) AS (VALUES (0, 'spark'), (0, 'join'), (0, 'fast'),
         |  (1, 'window'), (1, 'sort'), (2, 'vector'), (2, 'hash'), (2, 'query')),
         |dl AS (SELECT doc_id, CAST(len($Words) AS DOUBLE) AS dl FROM documents),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
         |tok AS (SELECT doc_id, unnest($Words) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
         |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |sc AS (SELECT q.query_id, t.doc_id, t.term,
         |    ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * (1.2 + 1)) /
         |      (t.tf + 1.2 * ((1 - 0.75) + 0.75 * l.dl / st.avgdl)) AS s
         |  FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id)
         |  CROSS JOIN st JOIN qt q USING (term)),
         |lexs AS (SELECT query_id, doc_id,
         |    floor(list_reduce(list_prepend(0.0, list(s ORDER BY term)),
         |      (u, w) -> u + w) * 1e4 + 0.5) / 1e4 AS score
         |  FROM sc GROUP BY query_id, doc_id),
         |lexr AS (SELECT query_id, doc_id, rank FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY score DESC, doc_id) AS rank FROM lexs)
         |  WHERE rank <= 10),
         |$EmbCte,
         |qv AS (SELECT id AS query_id, v AS qvec FROM ed WHERE id < 3),
         |sems AS (SELECT query_id, id AS doc_id, round(${cos("qvec", "v")}, 6) AS cos
         |  FROM ed CROSS JOIN qv),
         |semr AS (SELECT query_id, doc_id, rank FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY cos DESC, doc_id) AS rank FROM sems)
         |  WHERE rank <= 10),
         |contrib AS (SELECT query_id, doc_id, 0 AS sys, 0.75 / (60 + rank) AS part FROM lexr
         |  UNION ALL SELECT query_id, doc_id, 1, 1.5 / (60 + rank) FROM semr),
         |fused AS (SELECT query_id, doc_id,
         |    floor(list_reduce(list_prepend(0.0, list(part ORDER BY sys)),
         |      (u, w) -> u + w) * 1e6 + 0.5) / 1e6 AS rrf
         |  FROM contrib GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, rrf, rank FROM
         |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |     ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank FROM fused)
         |WHERE rank <= 10""".stripMargin,

    // Tombstone-aware snapshot read: q176's pinned gen<=1 slice MINUS
    // the taken-down ids (doc_id % 4 = 0 — the query's declared
    // takedown set), proving right-to-be-forgotten holds on a pinned
    // read BETWEEN a deletion and the compaction that applies it.
    "q183_snapshot_takedown" ->
      s"""WITH snap AS (SELECT doc_id, source, text, n_chars,
         |    CAST(doc_id % 3 AS BIGINT) AS gen
         |  FROM documents WHERE doc_id % 3 <= 1 AND doc_id % 4 <> 0)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(len($Words)) AS BIGINT) AS total_tokens,
         |  max(gen) AS max_gen
         |FROM snap GROUP BY source""".stripMargin,

    // Snapshot (time-travel) read pinned at gen <= 1: the mirror is the
    // gen<=1 slice itself (gen = doc_id % 3 — the query's declared
    // generation assignment); generation 2's rows are absent from BOTH
    // sides even though the engine's stored table contains them, which
    // is exactly the property the query gates.
    "q176_snapshot_read" ->
      s"""WITH snap AS (SELECT doc_id, source, text, n_chars,
         |    CAST(doc_id % 3 AS BIGINT) AS gen
         |  FROM documents WHERE doc_id % 3 <= 1)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(len($Words)) AS BIGINT) AS total_tokens,
         |  max(gen) AS max_gen
         |FROM snap GROUP BY source""".stripMargin,

    // Bloom decontamination mirror: the same distinct wide gram
    // fingerprints per doc (dedup on the (h1, h2) pair — exactly the
    // packed-hash set the engine's wideNgramHashSet builds), k=4
    // double-hashed probe positions (h1 + i·h2) mod 2^20 (1048576 —
    // the engine's logM=20 default; the logM=14 contrast lives in the
    // engine docstring, not here), set bits =
    // the eval slice's distinct positions, a gram hits iff all 4 of its
    // probe rows land on set bits, keep iff no gram hits. Bit-exact
    // including the filter's false positives, because both sides
    // compute the identical integer arithmetic.
    "q178_bloom_decontaminate" ->
      s"""WITH ws0 AS (SELECT doc_id, source, $Words AS w FROM documents),
         |gl AS (SELECT doc_id, source, list_transform(generate_series(0, len(w) - 8),
         |    i -> array_to_string(list_slice(w, i + 1, i + 8), ' ')) AS gs FROM ws0),
         |g0 AS (SELECT doc_id, source, ${H("gv")} AS h1, ${H131("gv")} AS h2
         |  FROM (SELECT doc_id, source, unnest(gs) AS gv FROM gl)),
         |g AS (SELECT DISTINCT doc_id, source, h1, h2 FROM g0),
         |pp AS (SELECT doc_id, source, h1, h2,
         |    (h1 + i * h2) % 1048576 AS pos
         |  FROM (SELECT *, unnest(generate_series(0, 3)) AS i FROM g)),
         |setbits AS (SELECT DISTINCT pos FROM pp WHERE source = 'src0'),
         |mk AS (SELECT doc_id, h1, h2, count(*) AS m FROM pp
         |  JOIN setbits USING (pos) WHERE source <> 'src0'
         |  GROUP BY doc_id, h1, h2),
         |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |  FROM mk WHERE m = 4 GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(hits.n, 0) AS BIGINT) AS n_hits,
         |  coalesce(hits.n, 0) = 0 AS keep
         |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
         |LEFT JOIN hits ON d.doc_id = hits.doc_id""".stripMargin,

    // Corpus sharding: salted-hash shard + independent salted-hash
    // in-shard order, dense 0-based position (doc_id tie-break).
    "q119_shard_order" ->
      s"""WITH s AS (SELECT doc_id,
         |    ${H("CAST(doc_id AS VARCHAR) || ':shard:s'")} % 16 AS shard,
         |    ${H("CAST(doc_id AS VARCHAR) || ':shard:o'")} AS ord
         |  FROM documents)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1 AS BIGINT) AS pos
         |FROM s""".stripMargin,

    // Sequence packing: per-shard running token sum over the salted-hash
    // stream order; seq = chunk of the doc's first token, off = offset.
    "q99_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
         |    ${H("CAST(doc_id AS VARCHAR) || ':pack'")} AS h
         |  FROM documents),
         |s AS (SELECT doc_id, n_tokens, CAST(h % 8 AS INTEGER) AS shard,
         |    CAST(sum(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
         |      AS BIGINT) AS cum FROM t)
         |SELECT doc_id, n_tokens, shard,
         |  CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS seq,
         |  (cum - n_tokens) % 256 AS off
         |FROM s""".stripMargin,

    // Gopher rules: every ratio is floor(x*1e4+0.5)/1e4 (half-up to 4dp,
    // valid because all metrics are >= 0) BEFORE thresholding, so the
    // boolean verdict is bit-identical across engines.
    "q100_gopher_rules" ->
      """WITH x AS (SELECT doc_id, text,
        |    regexp_extract_all(text, '\S+') AS toks,
        |    string_split(text, chr(10)) AS lines,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    len(toks) AS n_words,
        |    CASE WHEN len(toks) > 0 THEN floor(CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE) / len(toks) * 1e4 + 0.5) / 1e4 ELSE 0.0 END AS mean_word_len,
        |    CASE WHEN len(toks) > 0 THEN floor(CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) / len(toks) * 1e4 + 0.5) / 1e4 ELSE 0.0 END AS symbol_ratio,
        |    CASE WHEN len(lines) > 0 THEN floor(CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE) / len(lines) * 1e4 + 0.5) / 1e4 ELSE 0.0 END AS bullet_ratio,
        |    CASE WHEN len(lines) > 0 THEN floor(CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '\.\.\.$'))) AS DOUBLE) / len(lines) * 1e4 + 0.5) / 1e4 ELSE 0.0 END AS ellipsis_ratio,
        |    CASE WHEN len(toks) > 0 THEN floor(CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(toks) * 1e4 + 0.5) / 1e4 ELSE 0.0 END AS alpha_ratio,
        |    len(list_filter(['the','be','to','of','and','that','have','with'], s -> list_contains(ws, s))) AS stop_hits
        |  FROM x)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
        |  ellipsis_ratio, alpha_ratio, stop_hits,
        |  (n_words >= 50 AND n_words <= 100000
        |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND symbol_ratio < 0.1 AND bullet_ratio < 0.9
        |   AND ellipsis_ratio < 0.3 AND alpha_ratio > 0.8
        |   AND stop_hits >= 2) AS gopher_pass
        |FROM m""".stripMargin,

    "q101_c4_clean" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(text, ' (table|row|line) ', '.' || chr(10), 'g') AS text
        |  FROM documents),
        |x AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM d),
        |k AS (SELECT doc_id, text, lines,
        |    list_filter(lines, l -> regexp_matches(rtrim(l), '[.!?"]$')
        |      AND len(regexp_extract_all(l, '\S+')) >= 3
        |      AND NOT contains(lower(l), 'javascript')
        |      AND NOT regexp_matches(lower(l), 'cookie|privacy policy|terms of use')) AS kept
        |  FROM x),
        |m AS (SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept,
        |    coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        |    (contains(lower(text), 'lorem ipsum') OR contains(text, '{')) AS boilerplate
        |  FROM k)
        |SELECT doc_id, n_lines, n_kept,
        |  len(regexp_extract_all(clean_text, '[.!?]')) AS n_sentences,
        |  boilerplate,
        |  (NOT boilerplate AND len(regexp_extract_all(clean_text, '[.!?]')) >= 3) AS c4_keep,
        |  clean_text
        |FROM m""".stripMargin,

    "q102_dedup_best" ->
      s"""WITH RECURSIVE $MinhashCte,
         |bnd AS (SELECT doc_id, generate_subscripts(keys, 1) - 1 AS band, unnest(keys) AS key FROM bk),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b FROM bnd a
         |  JOIN bnd b2 ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id),
         |pr AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
         |    CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(list_concat(x.h, y.h))) AS j
         |  FROM cand JOIN hs x ON x.doc_id = cand.id_a JOIN hs y ON y.doc_id = cand.id_b)
         |  WHERE floor(j * 1e4 + 0.5) / 1e4 >= 0.7),
         |e AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach AS (SELECT a AS n, a AS r FROM e
         |  UNION SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.n),
         |comp AS (SELECT n, min(r) AS root FROM reach GROUP BY n),
         |sc AS (SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS tc FROM documents),
         |rk AS (SELECT comp.n, row_number() OVER (PARTITION BY comp.root
         |    ORDER BY sc.tc DESC, comp.n ASC) AS rk
         |  FROM comp JOIN sc ON sc.doc_id = comp.n),
         |losers AS (SELECT n FROM rk WHERE rk > 1)
         |SELECT d.doc_id, len(regexp_extract_all(d.text, '\\S+')) AS n_tokens
         |FROM documents d WHERE d.doc_id NOT IN (SELECT n FROM losers)""".stripMargin,

    "q103_chunk_docs" ->
      """WITH RECURSIVE d AS (SELECT doc_id,
        |    regexp_replace(text, ' (table|row|line) ', '.' || chr(10), 'g') AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM d),
        |l AS (SELECT doc_id, generate_subscripts(arr, 1) - 1 AS pos, unnest(arr) AS line FROM ls),
        |lc AS (SELECT doc_id, pos, line, len(regexp_extract_all(line, '\S+')) AS cnt FROM l),
        |rec AS (
        |  SELECT doc_id, pos, line, cnt AS cum, 0 AS chunk FROM lc WHERE pos = 0
        |  UNION ALL
        |  SELECT lc.doc_id, lc.pos, lc.line,
        |    CASE WHEN rec.cum + lc.cnt > 32 THEN lc.cnt ELSE rec.cum + lc.cnt END,
        |    CASE WHEN rec.cum + lc.cnt > 32 THEN rec.chunk + 1 ELSE rec.chunk END
        |  FROM rec JOIN lc ON lc.doc_id = rec.doc_id AND lc.pos = rec.pos + 1)
        |SELECT doc_id, chunk AS chunk_id,
        |  string_agg(line, chr(10) ORDER BY pos) AS chunk_text,
        |  len(regexp_extract_all(string_agg(line, chr(10) ORDER BY pos), '\S+')) AS n_tokens
        |FROM rec GROUP BY doc_id, chunk""".stripMargin,

    "q20_embed_agg" ->
      """WITH f AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
        |SELECT label, dim, count(*) AS n, sum(x) AS s, sum(x) / count(*) AS m
        |FROM f GROUP BY label, dim""".stripMargin,

    "q47_embed_stats" ->
      """WITH f AS (SELECT label, vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |st AS (SELECT label, dim, count(*) AS n, sum(x) AS sv, sum(x*x) AS ssv,
        |    bool_or(x > 0.25) AS any_pos, bool_and(x > -0.5) AS all_ok FROM f GROUP BY label, dim),
        |mn AS (SELECT label, dim, vec_id AS amin FROM
        |  (SELECT label, dim, vec_id, row_number() OVER (PARTITION BY label, dim ORDER BY x, vec_id) AS rn FROM f)
        |  WHERE rn = 1),
        |mx AS (SELECT label, dim, vec_id AS amax FROM
        |  (SELECT label, dim, vec_id, row_number() OVER (PARTITION BY label, dim ORDER BY x DESC, vec_id) AS rn FROM f)
        |  WHERE rn = 1)
        |SELECT st.label, st.dim, st.n, st.ssv/st.n - (st.sv/st.n)*(st.sv/st.n) AS var,
        |  mn.amin, mx.amax, st.any_pos, st.all_ok
        |FROM st JOIN mn ON st.label = mn.label AND st.dim = mn.dim
        |  JOIN mx ON st.label = mx.label AND st.dim = mx.dim""".stripMargin,

    "q68_embed_median" ->
      """SELECT label, dim, median(x) AS med, count(*) AS n
        |FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |        CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
        |GROUP BY label, dim""".stripMargin,

    // Mirror of q79: the engine's axis folds are sequential left folds in
    // vec_id (axis 0) / dimension (axis 1) order, so ordered list_reduce
    // reproduces them bit-for-bit before the final round.
    "q79_nd_tensor" ->
      """WITH e AS (SELECT label, vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings WHERE vec_id < 2000),
        |a0 AS (SELECT label, d AS idx,
        |    list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)), (a, b) -> a + b) AS v
        |  FROM e GROUP BY label, d),
        |a1 AS (SELECT label, vec_id,
        |    list_reduce(list_prepend(0.0, list(x ORDER BY d)), (a, b) -> a + b) AS v
        |  FROM e GROUP BY label, vec_id),
        |a1r AS (SELECT label, row_number() OVER (PARTITION BY label ORDER BY vec_id) - 1 AS idx, v
        |  FROM a1)
        |SELECT label, 'axis0' AS axis, CAST(idx AS INTEGER) AS idx, round(v, 6) AS value FROM a0
        |UNION ALL
        |SELECT label, 'axis1', CAST(idx AS INTEGER), round(v, 6) FROM a1r""".stripMargin,

    "q21_vec_ops" ->
      s"""WITH $EmbCte
         |SELECT id AS vec_id, sqrt(${dot("v", "v")}) AS nrm,
         |  ${dot("v", "list_reverse(v)")} AS dotrev FROM ed""".stripMargin,

    // ---- span operators over the tokens relation ----

    "q22_tokens" ->
      s"""WITH $ToksCte SELECT doc_id, token_id, "begin", "end", text FROM toks""",

    "q23_extract_regex" ->
      s"""WITH $ToksCte SELECT doc_id, "begin", "end", text AS match FROM toks WHERE text LIKE 's%'""",

    // q80 = q23 pushed through the Feather extension round trip; `covered`
    // re-substrings the round-tripped text, so it must equal `match`.
    "q80_arrow_roundtrip" ->
      s"""WITH $ToksCte SELECT doc_id, "begin", "end", text AS match, text AS covered
         |FROM toks WHERE text LIKE 's%'""".stripMargin,

    "q24_extract_regex_tok" ->
      s"""WITH $ToksCte
         |SELECT t1.doc_id, t1.token_id AS begin_tok, t1.token_id + 2 AS end_tok,
         |  t1."begin", t2."end", t1.text || ' ' || t2.text AS match
         |FROM toks t1 JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.token_id = t1.token_id + 1
         |WHERE t1.text = 'key'""".stripMargin,

    // q90 = doc 0's token bigrams through the TokenSpan Feather round trip:
    // every consecutive token pair (corpus words are lowercase alnum, so
    // the [a-z0-9]+ [a-z0-9]+ window always matches); covered == match by
    // construction when the interchange preserved everything.
    // q90 over the WHOLE corpus: the round-trip reproduces every doc's
    // adjacent-token matches with char offsets re-derived from that
    // doc's own tokenization dictionary entry.
    "q104_tokenspan_multi" ->
      s"""WITH $ToksCte
         |SELECT t1.doc_id, t1.token_id AS begin_tok, t1.token_id + 2 AS end_tok,
         |  t1."begin", t2."end", t1.text || ' ' || t2.text AS covered,
         |  t1.text || ' ' || t2.text AS match
         |FROM toks t1 JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.token_id = t1.token_id + 1
         |WHERE t1.doc_id % 7 = 0
         |  AND regexp_full_match(t1.text, '[a-z0-9]+')
         |  AND regexp_full_match(t2.text, '[a-z0-9]+')""".stripMargin,

    "q90_tokenspan_arrow" ->
      s"""WITH $ToksCte
         |SELECT t1.doc_id, t1.token_id AS begin_tok, t1.token_id + 2 AS end_tok,
         |  t1."begin", t2."end", t1.text || ' ' || t2.text AS covered,
         |  t1.text || ' ' || t2.text AS match
         |FROM toks t1 JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.token_id = t1.token_id + 1
         |WHERE t1.doc_id = 0
         |  AND regexp_full_match(t1.text, '[a-z0-9]+')
         |  AND regexp_full_match(t2.text, '[a-z0-9]+')""".stripMargin,

    // Flagship pipeline mirror: longest dictionary match per begin token
    // (see the q70 comment in SparkEntry for why this equals the greedy
    // left-to-right consolidate on this dictionary).
    "q70_flagship" ->
      s"""WITH $ToksCte,
         |cand AS (
         |  SELECT t1.doc_id, t1.token_id, t1."begin" AS b,
         |    CASE WHEN t1.text = 'the' AND t2.text = 'spark' AND t3.text = 'join' THEN 3
         |         WHEN t1.text = 'key' AND t2.text = 'agg' THEN 2
         |         WHEN t1.text = 'slow' AND t2.text = 'fast' THEN 2
         |         WHEN t1.text = 'key' THEN 1 END AS ln
         |  FROM toks t1
         |  LEFT JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.token_id = t1.token_id + 1
         |  LEFT JOIN toks t3 ON t1.doc_id = t3.doc_id AND t3.token_id = t1.token_id + 2),
         |k AS (SELECT c.doc_id, c.b, e."end" AS e FROM cand c JOIN toks e
         |      ON e.doc_id = c.doc_id AND e.token_id = c.token_id + c.ln - 1
         |      WHERE c.ln IS NOT NULL)
         |SELECT k.doc_id, k.b AS "begin", k.e AS "end",
         |  substr(d.text, CAST(k.b + 1 AS BIGINT), CAST(k.e - k.b AS BIGINT)) AS match
         |FROM k JOIN documents d ON k.doc_id = d.doc_id""".stripMargin,

    "q25_extract_dict" ->
      s"""WITH $ToksCte
         |SELECT doc_id, token_id AS begin_tok, token_id + 1 AS end_tok, "begin", "end"
         |  FROM toks WHERE text = 'key'
         |UNION ALL
         |SELECT t1.doc_id, t1.token_id, t1.token_id + 2, t1."begin", t2."end"
         |  FROM toks t1 JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.token_id = t1.token_id + 1
         |  WHERE t1.text = 'key' AND t2.text = 'agg'
         |UNION ALL
         |SELECT t1.doc_id, t1.token_id, t1.token_id + 2, t1."begin", t2."end"
         |  FROM toks t1 JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.token_id = t1.token_id + 1
         |  WHERE t1.text = 'slow' AND t2.text = 'fast'
         |UNION ALL
         |SELECT t1.doc_id, t1.token_id, t1.token_id + 3, t1."begin", t3."end"
         |  FROM toks t1
         |  JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.token_id = t1.token_id + 1
         |  JOIN toks t3 ON t1.doc_id = t3.doc_id AND t3.token_id = t1.token_id + 2
         |  WHERE t1.text = 'the' AND t2.text = 'spark' AND t3.text = 'join'""".stripMargin,

    "q26_extract_split" ->
      s"""WITH $ToksCte SELECT doc_id, "begin", "end", text AS chunk FROM toks""",

    "q27_adjacent_join" ->
      s"""WITH $ToksCte
         |SELECT t1.doc_id, t1.token_id AS f_bt, t2.token_id AS s_bt
         |FROM toks t1 JOIN toks t2 ON t1.doc_id = t2.doc_id
         |  AND t2.token_id BETWEEN t1.token_id + 1 AND t1.token_id + 2
         |WHERE t1.text = 'key'""".stripMargin,

    "q28_overlap_join" ->
      s"""WITH $ToksCte,
         |w3 AS (SELECT a.doc_id, a."begin" AS b, c."end" AS e FROM toks a
         |  JOIN toks c ON a.doc_id = c.doc_id AND c.token_id = a.token_id + 2 WHERE a.token_id % 5 = 0),
         |w2 AS (SELECT a.doc_id, a."begin" AS b, c."end" AS e FROM toks a
         |  JOIN toks c ON a.doc_id = c.doc_id AND c.token_id = a.token_id + 1 WHERE a.token_id % 3 = 0)
         |SELECT DISTINCT w3.doc_id, w3.b AS f_b, w3.e AS f_e, w2.b AS s_b, w2.e AS s_e
         |FROM w3 JOIN w2 ON w3.doc_id = w2.doc_id
         |  AND ((w3.b = w2.b AND w3.e = w2.e) OR NOT (w2.b >= w3.e OR w2.e <= w3.b))""".stripMargin,

    // identical relation to q28 (the naive-join query the optimizer rule
    // rewrites; win() inputs are duplicate-free so DISTINCT is a no-op)
    "q75_overlap_rule" ->
      s"""WITH $ToksCte,
         |w3 AS (SELECT a.doc_id, a."begin" AS b, c."end" AS e FROM toks a
         |  JOIN toks c ON a.doc_id = c.doc_id AND c.token_id = a.token_id + 2 WHERE a.token_id % 5 = 0),
         |w2 AS (SELECT a.doc_id, a."begin" AS b, c."end" AS e FROM toks a
         |  JOIN toks c ON a.doc_id = c.doc_id AND c.token_id = a.token_id + 1 WHERE a.token_id % 3 = 0)
         |SELECT w3.doc_id, w3.b AS f_b, w3.e AS f_e, w2.b AS s_b, w2.e AS s_e
         |FROM w3 JOIN w2 ON w3.doc_id = w2.doc_id
         |  AND ((w3.b = w2.b AND w3.e = w2.e) OR NOT (w2.b >= w3.e OR w2.e <= w3.b))""".stripMargin,

    "q29_contain_join" ->
      s"""WITH $ToksCte,
         |w4 AS (SELECT a.doc_id, a."begin" AS b, c."end" AS e FROM toks a
         |  JOIN toks c ON a.doc_id = c.doc_id AND c.token_id = a.token_id + 3 WHERE a.token_id % 4 = 0)
         |SELECT DISTINCT w4.doc_id, w4.b AS f_b, w4.e AS f_e, t."begin" AS s_b, t."end" AS s_e
         |FROM w4 JOIN toks t ON w4.doc_id = t.doc_id
         |  AND ((w4.b = t."begin" AND w4.e = t."end") OR NOT (t."begin" >= w4.e OR t."end" <= w4.b))
         |  AND t."begin" >= w4.b AND t."end" <= w4.e""".stripMargin,

    // q29 minus the overlap conjunct: the naive declarative contains form
    // (pure containment; identical relation on non-degenerate token spans,
    // but mirrored exactly rather than assumed)
    "q147_contains_rule" ->
      s"""WITH $ToksCte,
         |w4 AS (SELECT a.doc_id, a."begin" AS b, c."end" AS e FROM toks a
         |  JOIN toks c ON a.doc_id = c.doc_id AND c.token_id = a.token_id + 3 WHERE a.token_id % 4 = 0)
         |SELECT w4.doc_id, w4.b AS f_b, w4.e AS f_e, t."begin" AS s_b, t."end" AS s_e
         |FROM w4 JOIN toks t ON w4.doc_id = t.doc_id
         |  AND t."begin" >= w4.b AND t."end" <= w4.e""".stripMargin,

    "q65_set_ops" ->
      s"""WITH $ToksCte,
         |a AS (SELECT DISTINCT doc_id, text FROM toks WHERE text LIKE 's%'),
         |b AS (SELECT DISTINCT doc_id, text FROM toks WHERE len(text) > 4)
         |SELECT doc_id, text, 'both' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
         |UNION ALL
         |SELECT doc_id, text, 'only_s' AS op FROM (SELECT * FROM a EXCEPT SELECT * FROM b)""".stripMargin,

    "q30_span_sum" ->
      s"""WITH $ToksCte
         |SELECT doc_id, min("begin") AS "begin", max("end") AS "end", count(*) AS n
         |FROM toks WHERE text LIKE 's%' GROUP BY doc_id""".stripMargin,

    "q31_iob_to_spans" ->
      s"""WITH $ToksCte, $EntsCte
         |SELECT doc_id, begin_tok, end_tok, "begin", "end", ent_type FROM ents WHERE ft = 'B'""".stripMargin,

    "q32_spans_to_iob" ->
      s"""WITH $ToksCte, $EntsCte,
         |eb AS (SELECT * FROM ents WHERE ft = 'B')
         |SELECT t.doc_id, t.token_id,
         |  CASE WHEN t.token_id = eb.begin_tok THEN 'B'
         |       WHEN eb.begin_tok IS NOT NULL THEN 'I' ELSE 'O' END AS ent_iob,
         |  coalesce(eb.ent_type, '') AS ent_type
         |FROM toks t LEFT JOIN eb ON t.doc_id = eb.doc_id
         |  AND t.token_id >= eb.begin_tok AND t.token_id < eb.end_tok""".stripMargin,

    "q33_iob2_correction" ->
      s"""WITH $ToksCte,
         |tg AS (SELECT doc_id, token_id,
         |    CASE WHEN text IN ('key', 'value') THEN 'I' ELSE 'O' END AS iob,
         |    CASE WHEN text = 'key' THEN 'K' WHEN text = 'value' THEN 'V' END AS typ,
         |    token_id // 10 AS sent_b FROM toks),
         |lg AS (SELECT *, lag(iob) OVER w AS piob, lag(typ) OVER w AS ptyp, lag(sent_b) OVER w AS psb
         |  FROM tg WINDOW w AS (PARTITION BY doc_id ORDER BY token_id))
         |SELECT doc_id, token_id,
         |  CASE WHEN iob = 'I' AND (piob IS NULL OR piob = 'O'
         |    OR typ IS DISTINCT FROM ptyp OR sent_b IS DISTINCT FROM psb) THEN 'B'
         |  ELSE iob END AS ent_iob
         |FROM lg""".stripMargin,

    "q34_prf" ->
      s"""WITH $ToksCte, $EntsCte,
         |pred AS (SELECT doc_id, begin_tok, end_tok, "begin", "end", ent_type FROM ents WHERE ft = 'B'),
         |gold AS (SELECT doc_id, token_id AS begin_tok, token_id + 1 AS end_tok, "begin", "end",
         |    'K' AS ent_type FROM toks WHERE text = 'key'),
         |tp AS (SELECT p.doc_id, count(*) AS c FROM pred p JOIN gold g ON p.doc_id = g.doc_id
         |  AND p.begin_tok = g.begin_tok AND p.end_tok = g.end_tok
         |  AND p."begin" = g."begin" AND p."end" = g."end" AND p.ent_type = g.ent_type
         |  GROUP BY p.doc_id),
         |np AS (SELECT doc_id, count(*) AS n_pred FROM pred GROUP BY doc_id),
         |ng AS (SELECT doc_id, count(*) AS n_gold FROM gold GROUP BY doc_id),
         |j AS (SELECT coalesce(np.doc_id, ng.doc_id) AS doc_id,
         |    coalesce(n_pred, 0) AS n_pred, coalesce(n_gold, 0) AS n_gold
         |  FROM np FULL JOIN ng ON np.doc_id = ng.doc_id),
         |k AS (SELECT j.doc_id, n_pred, n_gold, coalesce(c, 0) AS tp FROM j LEFT JOIN tp ON j.doc_id = tp.doc_id),
         |pr AS (SELECT *, CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END AS precision,
         |    CASE WHEN n_gold > 0 THEN CAST(tp AS DOUBLE) / n_gold ELSE 0.0 END AS recall FROM k)
         |SELECT doc_id, n_pred, n_gold, tp, precision, recall,
         |  CASE WHEN precision + recall > 0 THEN 2*precision*recall / (precision + recall) ELSE 0.0 END AS f1
         |FROM pr""".stripMargin,

    // Per-type entity-level P/R/F1 report incl. the reference's quirks:
    // Macro-avg averages the per-type rows AND the Micro-avg row; Macro
    // support = Micro support; f1 derived after both average rows exist.
    // Floats 6dp half-up (>= 0) — Macro averages 3 doubles whose summation
    // order differs across engines.
    "q105_f1_report_iob" ->
      s"""WITH $ToksCte,
         |ce AS (SELECT doc_id, token_id AS tok,
         |    CASE WHEN text = 'key' THEN 'K' ELSE 'V' END AS ent_type
         |  FROM toks WHERE text IN ('key', 'value')),
         |pe AS (SELECT doc_id, token_id AS tok,
         |    CASE WHEN text = 'value' THEN 'V' ELSE 'K' END AS ent_type
         |  FROM toks WHERE (text = 'key' AND token_id % 2 = 0) OR text IN ('value', 'join')),
         |tpx AS (SELECT ent_type, CAST(count(*) AS DOUBLE) AS tp
         |  FROM pe JOIN ce USING (doc_id, tok, ent_type) GROUP BY ent_type),
         |ppx AS (SELECT ent_type, CAST(count(*) AS DOUBLE) AS pp FROM pe GROUP BY ent_type),
         |apx AS (SELECT ent_type, CAST(count(*) AS DOUBLE) AS ap FROM ce GROUP BY ent_type),
         |per AS (SELECT coalesce(ppx.ent_type, apx.ent_type, tpx.ent_type) AS label,
         |    tp, pp, ap FROM ppx
         |  FULL JOIN apx ON ppx.ent_type = apx.ent_type
         |  FULL JOIN tpx ON coalesce(ppx.ent_type, apx.ent_type) = tpx.ent_type),
         |micro AS (SELECT 'Micro-avg' AS label, sum(tp) AS tp, sum(pp) AS pp, sum(ap) AS ap FROM per),
         |wm AS (SELECT label, tp, pp, ap, tp / pp AS prec, tp / ap AS rec
         |  FROM (SELECT * FROM per UNION ALL SELECT * FROM micro)),
         |mac AS (SELECT 'Macro-avg' AS label, avg(tp) AS tp, avg(pp) AS pp, avg(ap) AS ap,
         |    avg(prec) AS prec, avg(rec) AS rec FROM wm),
         |allr AS (SELECT *, CASE WHEN prec + rec > 0
         |    THEN 2 * prec * rec / (prec + rec) END AS f1
         |  FROM (SELECT * FROM wm UNION ALL SELECT * FROM mac))
         |SELECT label, floor(prec * 1e6 + 0.5) / 1e6 AS precision,
         |  floor(rec * 1e6 + 0.5) / 1e6 AS recall,
         |  floor(f1 * 1e6 + 0.5) / 1e6 AS f1_score,
         |  CASE WHEN label = 'Macro-avg' THEN (SELECT ap FROM micro) ELSE ap END AS support
         |FROM allr""".stripMargin,

    // Ensemble micro report: q105's imperfect model beside a perfect one.
    "q106_f1_ensemble" ->
      s"""WITH $ToksCte,
         |ce AS (SELECT doc_id, token_id AS tok,
         |    CASE WHEN text = 'key' THEN 'K' ELSE 'V' END AS ent_type
         |  FROM toks WHERE text IN ('key', 'value')),
         |pe AS (SELECT doc_id, token_id AS tok,
         |    CASE WHEN text = 'value' THEN 'V' ELSE 'K' END AS ent_type
         |  FROM toks WHERE (text = 'key' AND token_id % 2 = 0) OR text IN ('value', 'join')),
         |u AS (
         |  SELECT 'mA' AS model,
         |    (SELECT CAST(count(*) AS DOUBLE) FROM pe JOIN ce USING (doc_id, tok, ent_type)) AS tp,
         |    (SELECT CAST(count(*) AS DOUBLE) FROM pe) AS pp,
         |    (SELECT CAST(count(*) AS DOUBLE) FROM ce) AS ap
         |  UNION ALL
         |  SELECT 'mB', c, c, c FROM (SELECT CAST(count(*) AS DOUBLE) AS c FROM ce)),
         |pr AS (SELECT model,
         |    CASE WHEN pp > 0 THEN tp / pp ELSE 0.0 END AS prec,
         |    CASE WHEN ap > 0 THEN tp / ap ELSE 0.0 END AS rec FROM u)
         |SELECT model, floor(prec * 1e6 + 0.5) / 1e6 AS precision,
         |  floor(rec * 1e6 + 0.5) / 1e6 AS recall,
         |  floor((CASE WHEN prec + rec > 0
         |    THEN 2 * prec * rec / (prec + rec) ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS f1_score
         |FROM pr""".stripMargin,

    // Model outputs realigned onto (fold, doc_num, token_id)-keyed corpus
    // tokens; predictions exist for every 3rd token, labels lowercased.
    "q107_align_model_outputs" ->
      s"""WITH $ToksCte,
         |tg AS (SELECT doc_id, token_id, "begin", "end",
         |    CASE WHEN text = 'key' THEN 'B' WHEN text = 'value' THEN 'I' ELSE 'O' END AS iob,
         |    CASE WHEN text = 'key' THEN 'K' END AS typ FROM toks)
         |SELECT CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'test' END AS fold,
         |  doc_id AS doc_num, token_id, "begin", "end",
         |  iob AS ent_iob, typ AS ent_type,
         |  lower(iob) AS predicted_iob, lower(typ) AS predicted_type
         |FROM tg WHERE token_id % 3 = 0""".stripMargin,

    // Hand-labeling sheets (csv_prep): constants mirror the reference's
    // blank annotation columns; span_str comes from CsvPrepCte.
    "q111_csv_prep_gold" ->
      s"""WITH $ToksCte, $EntsCte, $CsvPrepCte
         |SELECT "count", fold, doc_num AS doc_offset, span_str AS corpus_span,
         |  ent_type AS corpus_ent_type, '' AS error_type, '' AS correct_span,
         |  '' AS correct_ent_type, '' AS notes, '' AS time_started,
         |  '' AS time_stopped, '' AS time_elapsed
         |FROM cstr WHERE in_gold""".stripMargin,

    "q112_csv_prep_model" ->
      s"""WITH $ToksCte, $EntsCte, $CsvPrepCte
         |SELECT "count", fold, doc_num AS doc_offset, span_str AS model_span,
         |  ent_type AS model_ent_type, '' AS error_type, '' AS corpus_span,
         |  '' AS corpus_ent_type, '' AS correct_span, '' AS correct_ent_type,
         |  '' AS notes, '' AS time_started, '' AS time_stopped,
         |  '' AS time_elapsed
         |FROM cstr WHERE NOT in_gold""".stripMargin,

    // Per-document accuracy stats (compute_accuracy_by_document): TP =
    // multiset inner-join cardinality of gold vs single-token-key model
    // outputs on the full span+type key; derived ratios divide AFTER the
    // per-doc counts. Gold and output doc sets coincide by construction
    // (every gold entity starts at a 'key' token), so the full join
    // never fires a NULL-fill branch.
    "q137_accuracy_by_doc" ->
      s"""WITH $ToksCte, $EntsCte,
         |eb AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'test' END AS fold,
         |    doc_id AS doc_num, begin_tok, end_tok, "begin", "end", ent_type
         |  FROM ents WHERE ft = 'B'),
         |kk AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'test' END AS fold,
         |    doc_id AS doc_num, token_id AS begin_tok, token_id + 1 AS end_tok,
         |    "begin", "end", 'K' AS ent_type
         |  FROM toks WHERE text = 'key'),
         |tp AS (SELECT fold, doc_num, CAST(count(*) AS BIGINT) AS tp FROM kk
         |  JOIN eb USING (fold, doc_num, begin_tok, end_tok, "begin", "end", ent_type)
         |  GROUP BY fold, doc_num),
         |nx AS (SELECT fold, doc_num, CAST(count(*) AS BIGINT) AS num_extracted
         |  FROM kk GROUP BY fold, doc_num),
         |ne AS (SELECT fold, doc_num, CAST(count(*) AS BIGINT) AS num_entities
         |  FROM eb GROUP BY fold, doc_num),
         |st AS (SELECT fold, doc_num, coalesce(tp.tp, 0) AS num_true_positives,
         |    num_extracted, num_entities
         |  FROM nx JOIN ne USING (fold, doc_num)
         |  LEFT JOIN tp USING (fold, doc_num)),
         |pr AS (SELECT *,
         |    CASE WHEN num_extracted > 0 THEN num_true_positives / num_extracted END AS precision,
         |    CASE WHEN num_entities > 0 THEN num_true_positives / num_entities END AS recall
         |  FROM st)
         |SELECT fold, doc_num, num_true_positives, num_extracted, num_entities,
         |  precision, recall,
         |  CASE WHEN precision + recall > 0
         |    THEN 2.0 * precision * recall / (precision + recall) END AS "F1"
         |FROM pr""".stripMargin,

    // Collection-wide roll-up (compute_global_accuracy): micro-average —
    // sum the q137 counts, then divide once.
    "q138_global_accuracy" ->
      s"""WITH $ToksCte, $EntsCte,
         |eb AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'test' END AS fold,
         |    doc_id AS doc_num, begin_tok, end_tok, "begin", "end", ent_type
         |  FROM ents WHERE ft = 'B'),
         |kk AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'test' END AS fold,
         |    doc_id AS doc_num, token_id AS begin_tok, token_id + 1 AS end_tok,
         |    "begin", "end", 'K' AS ent_type
         |  FROM toks WHERE text = 'key'),
         |tp AS (SELECT CAST(count(*) AS BIGINT) AS num_true_positives FROM kk
         |  JOIN eb USING (fold, doc_num, begin_tok, end_tok, "begin", "end", ent_type)),
         |gl AS (SELECT num_true_positives,
         |    (SELECT CAST(count(*) AS BIGINT) FROM eb) AS num_entities,
         |    (SELECT CAST(count(*) AS BIGINT) FROM kk) AS num_extracted
         |  FROM tp),
         |pr AS (SELECT *,
         |    CASE WHEN num_extracted > 0 THEN num_true_positives / num_extracted END AS precision,
         |    CASE WHEN num_entities > 0 THEN num_true_positives / num_entities END AS recall
         |  FROM gl)
         |SELECT num_true_positives, num_entities, num_extracted, precision, recall,
         |  CASE WHEN precision + recall > 0
         |    THEN 2.0 * precision * recall / (precision + recall) END AS "F1"
         |FROM pr""".stripMargin,

    "q35_consolidate" ->
      s"""WITH $ToksCte
         |SELECT a.doc_id, a."begin", c."end" FROM toks a
         |JOIN toks c ON a.doc_id = c.doc_id AND c.token_id = a.token_id + 2
         |WHERE a.token_id % 3 = 0""".stripMargin,

    "q36_lemmatize" ->
      s"""WITH $ToksCte
         |SELECT t1.doc_id, t1.token_id AS begin_tok,
         |  regexp_replace(t1.text, 's+$$', '') || ' ' || regexp_replace(t2.text, 's+$$', '') AS lemmas
         |FROM toks t1 JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.token_id = t1.token_id + 1
         |WHERE t1.token_id % 4 = 0""".stripMargin,

    "q37_flag_suspicious" ->
      s"""WITH $ToksCte, $EntsCte,
         |eb AS (SELECT doc_id, begin_tok, end_tok, ent_type FROM ents WHERE ft = 'B'),
         |kk AS (SELECT doc_id, token_id AS begin_tok, token_id + 1 AS end_tok, 'K' AS ent_type
         |  FROM toks WHERE text = 'key'),
         |u AS (SELECT *, TRUE AS ig, 0 AS c FROM eb
         |  UNION ALL SELECT *, FALSE, 1 FROM eb
         |  UNION ALL SELECT *, FALSE, 1 FROM kk)
         |SELECT doc_id, begin_tok, end_tok, ent_type, CAST(sum(c) AS BIGINT) AS n_models, bool_or(ig) AS in_gold
         |FROM u GROUP BY doc_id, begin_tok, end_tok, ent_type""".stripMargin,

    // window arithmetic mirror of Bert.seqToWindows with overlap=2,
    // non_overlap=4: window_length=8, pre=2, stride=6; post = 8-((n+2)%6),
    // collapsed by one stride when the remainder is 0.
    "q38_bert_windows" ->
      s"""WITH $ToksCte,
         |n AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
         |p AS (SELECT doc_id, n, CASE WHEN 8 - ((n + 2) % 6) = 8 THEN 2 ELSE 8 - ((n + 2) % 6) END AS post FROM n),
         |w AS (SELECT doc_id, n, (n + 2 + post) // 6 AS nw FROM p),
         |g AS (SELECT doc_id, n, unnest(generate_series(0, CAST(nw - 1 AS BIGINT))) AS win FROM w),
         |j AS (SELECT doc_id, n, win, unnest(generate_series(0, 7)) AS pos FROM g)
         |SELECT doc_id, win AS window_id, pos,
         |  CASE WHEN win*6 + pos - 2 >= 0 AND win*6 + pos - 2 < n THEN win*6 + pos - 2 ELSE 0 END AS token_idx,
         |  CASE WHEN win*6 + pos - 2 >= 0 AND win*6 + pos - 2 < n THEN 1 ELSE 0 END AS mask
         |FROM j""".stripMargin,

    // Real y4m decode mirror: clips are 3 + id%5 frames at 5 fps (200 ms
    // per frame); sampled frame idx = t // 200; y_sum = the closed-form
    // 16-byte luma plane of that frame, summed.
    "q39_media_frames" ->
      """WITH vid AS (SELECT doc_id, 3 + doc_id % 5 AS nf FROM documents
        |  WHERE doc_id % 3 = 2),
        |tt AS (SELECT doc_id, unnest(generate_series(0, nf*200 - 1, 500)) AS t FROM vid),
        |ff AS (SELECT doc_id, t, t // 200 AS idx FROM tt)
        |SELECT doc_id AS media_id, doc_id, CAST(t AS INT) AS frame_ms,
        |  CAST(idx AS INT) AS frame_idx,
        |  CAST(list_sum(list_transform(generate_series(0, 15),
        |    j -> (doc_id*17 + idx*29 + j*7) % 256)) AS BIGINT) AS y_sum
        |FROM ff""".stripMargin,

    // Real resize mirror: every byte of the engine's output PPM is
    // re-derived — 11 fixed header bytes ("P6\n8 8\n255\n") plus the
    // nearest-neighbor-resampled closed-form raster (target (x,y,c) ←
    // source ((x*sw)//8, (y*sh)//8, c)) — then rolled into the same
    // 31-base fingerprint the engine computes over the binary payload.
    "q66_media_resize" ->
      """WITH im AS (SELECT doc_id, 4 + doc_id % 5 AS sw, 3 + doc_id % 4 AS sh
        |  FROM documents WHERE doc_id % 3 = 0),
        |pl AS (SELECT doc_id, list_transform(generate_series(0, 191), i ->
        |    (doc_id*31 + ((i // 24 * sh // 8 * sw + i % 24 // 3 * sw // 8) * 3 + i % 3) * 7) % 256)
        |  AS pxs FROM im)
        |SELECT doc_id AS media_id, 8 AS width, 8 AS height, 203 AS n_bytes,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_concat([80,54,10,56,32,56,10,50,53,53,10], pxs)),
        |    (a, b) -> (a*31 + b) % 2147483647) AS fp
        |FROM pl""".stripMargin,

    "q63_audio_chunks" ->
      """SELECT doc_id AS media_id, doc_id, CAST(i AS INT) AS chunk_idx,
        |  s AS start_ms, s + 1000 AS end_ms
        |FROM (SELECT doc_id, generate_subscripts(ss, 1) - 1 AS i, unnest(ss) AS s
        |  FROM (SELECT doc_id, generate_series(0, n_chars*10 - 1000, 500) AS ss
        |        FROM documents WHERE doc_id % 3 = 1 AND n_chars*10 >= 1000))""".stripMargin,

    // Real PPM decode mirror: raster byte i = (id*31 + i*7) % 256;
    // features = [w, h, channel means, min, max, global mean] with the
    // engine's exact floor(x*1e4 + 0.5)/1e4 half-up rounding (HUGEINT
    // sums divide to DOUBLE, same IEEE sequence as the host kernel).
    "q43_media_features" ->
      """WITH im AS (SELECT doc_id, 4 + doc_id % 5 AS sw, 3 + doc_id % 4 AS sh
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT doc_id, sw, sh, unnest(generate_series(0, sw*sh*3 - 1)) AS i FROM im),
        |pv AS (SELECT doc_id, sw, sh, i, (doc_id*31 + i*7) % 256 AS v FROM px),
        |ag AS (SELECT doc_id, sw, sh,
        |    sum(CASE WHEN i % 3 = 0 THEN v END) AS sr,
        |    sum(CASE WHEN i % 3 = 1 THEN v END) AS sg,
        |    sum(CASE WHEN i % 3 = 2 THEN v END) AS sb,
        |    min(v) AS mn, max(v) AS mx
        |  FROM pv GROUP BY doc_id, sw, sh),
        |fv AS (SELECT doc_id, [CAST(sw AS DOUBLE), CAST(sh AS DOUBLE),
        |    floor(sr / (sw*sh) * 1e4 + 0.5) / 1e4,
        |    floor(sg / (sw*sh) * 1e4 + 0.5) / 1e4,
        |    floor(sb / (sw*sh) * 1e4 + 0.5) / 1e4,
        |    CAST(mn AS DOUBLE), CAST(mx AS DOUBLE),
        |    floor((sr + sg + sb) / (sw*sh*3) * 1e4 + 0.5) / 1e4] AS fs FROM ag)
        |SELECT doc_id AS media_id, generate_subscripts(fs, 1) - 1 AS i, unnest(fs) AS f
        |FROM fv""".stripMargin,

    // Real WAV parse mirror: sample i = (id*13 + i*7) % 65536 - 32768
    // over 160 + id%64 samples at 8 kHz; pure integer stats.
    "q139_audio_stats" ->
      """WITH au AS (SELECT doc_id, 160 + doc_id % 64 AS n FROM documents
        |  WHERE doc_id % 3 = 1),
        |sv AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM au),
        |vv AS (SELECT doc_id, n, (doc_id*13 + i*7) % 65536 - 32768 AS s FROM sv)
        |SELECT doc_id AS media_id, 8000 AS sample_rate,
        |  CAST(max(n) AS INT) AS n_samples, CAST(min(s) AS INT) AS min_amp,
        |  CAST(max(s) AS INT) AS max_amp, CAST(sum(s) AS BIGINT) AS sum_amp
        |FROM vv GROUP BY doc_id""".stripMargin,

    // Sample-accurate chunk mirror: 80-sample windows hopped by 40
    // (10 ms / 5 ms at 8 kHz), per-chunk amplitude sum in closed form.
    "q140_audio_chunk_samples" ->
      """WITH au AS (SELECT doc_id, 160 + doc_id % 64 AS n FROM documents
        |  WHERE doc_id % 3 = 1),
        |ch AS (SELECT doc_id, unnest(generate_series(0, n - 80, 40)) AS ss FROM au)
        |SELECT doc_id AS media_id, doc_id, CAST(ss // 40 AS INT) AS chunk_idx,
        |  CAST(ss AS INT) AS start_sample, CAST(ss + 80 AS INT) AS end_sample,
        |  CAST(list_sum(list_transform(generate_series(ss, ss + 79),
        |    i -> (doc_id*13 + i*7) % 65536 - 32768)) AS BIGINT) AS sum_amp
        |FROM ch""".stripMargin,

    "q44_watson_syntax" ->
      s"""WITH $ToksCte
         |SELECT t.doc_id, t."begin", t."end",
         |  CASE WHEN len(t.text) > 4 THEN 'NOUN' ELSE 'DET' END AS part_of_speech,
         |  regexp_replace(t.text, 's+$$', '') AS lemma,
         |  0 AS s_b, len(d.text) AS s_e
         |FROM toks t JOIN documents d ON t.doc_id = d.doc_id""".stripMargin,

    "q45_watson_mentions" ->
      s"""WITH $ToksCte
         |SELECT doc_id, 'Word' AS type, 'key' AS text, "begin", "end", 0.5 AS confidence
         |FROM toks WHERE text = 'key'""".stripMargin,

    "q61_watson_frames" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3)
        |SELECT doc_id, ws[1] AS kw_text, 0.9 AS kw_relevance, 0.5 AS emotion_joy,
        |  CAST(1 AS BIGINT) AS kw_count,
        |  'nextTo' AS rel_type, 0.8 AS score,
        |  0 AS a0_b, len(ws[1]) AS a0_e,
        |  len(ws[1]) + 1 AS a1_b, len(ws[1]) + 1 + len(ws[2]) AS a1_e,
        |  ws[1] AS arg0_text, ws[2] AS arg1_text,
        |  ws[1] AS subject_text, ws[3] AS object_text, ws[2] AS action_verb_text,
        |  regexp_replace(ws[2], 's+$', '') AS action_normalized
        |FROM w""".stripMargin,

    "q46_make_span_entities" ->
      s"""WITH $ToksCte
         |SELECT doc_id, 'key' AS entity, "begin", "end" FROM (
         |  SELECT doc_id, "begin", "end", row_number() OVER (PARTITION BY doc_id ORDER BY token_id) AS rn
         |  FROM toks WHERE text = 'key') WHERE rn <= 2""".stripMargin,

    "q48_make_table" ->
      """WITH c AS (SELECT l_orderkey % 100 AS doc_id, 0 AS table_idx,
        |    l_linenumber AS row_idx, CAST(l_linenumber AS VARCHAR) AS row_key,
        |    l_returnflag AS ck, l_orderkey*10 + l_linenumber AS b,
        |    CAST(CAST(floor(l_quantity) AS INT) AS VARCHAR) AS v FROM lineitem)
        |SELECT doc_id, table_idx, row_idx, row_key,
        |  string_agg(CASE WHEN ck = 'A' THEN v END, ' | ' ORDER BY b, v) AS "A",
        |  string_agg(CASE WHEN ck = 'N' THEN v END, ' | ' ORDER BY b, v) AS "N",
        |  string_agg(CASE WHEN ck = 'R' THEN v END, ' | ' ORDER BY b, v) AS "R"
        |FROM c GROUP BY doc_id, table_idx, row_idx, row_key""".stripMargin,

    "q64_watson_tables_parse" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 4)
        |SELECT doc_id, 0 AS table_idx, 0 AS row_idx, 'R0' AS row_key,
        |  ws[1] AS "C0", ws[2] AS "C1" FROM w
        |UNION ALL
        |SELECT doc_id, 0, 1, 'R1', ws[3], ws[4] FROM w""".stripMargin,

    "q49_spacy_features" -> {
      val stops = sqlList(operators.TextAnalysis.StopwordsEn)
      s"""WITH $ToksCte,
         |f AS (SELECT doc_id, token_id, "begin", "end", text,
         |    list_contains($stops, text) AS is_stop,
         |    max(token_id) OVER (PARTITION BY doc_id) AS mx FROM toks)
         |SELECT doc_id, token_id, "begin", "end",
         |  regexp_replace(text, 's+$$', '') AS lemma,
         |  CASE WHEN is_stop THEN 'DET' WHEN len(text) > 4 THEN 'NOUN' ELSE 'X' END AS pos,
         |  regexp_replace(regexp_replace(text, '[a-z]', 'x', 'g'), '[0-9]', 'd', 'g') AS shape,
         |  regexp_matches(text, '^[A-Za-z]+$$') AS is_alpha, is_stop,
         |  CASE WHEN token_id = 0 THEN -1 ELSE token_id - 1 END AS "left",
         |  CASE WHEN token_id = mx THEN -1 ELSE token_id + 1 END AS "right"
         |FROM f""".stripMargin
    },

    "q50_align_to_tokens" ->
      s"""WITH $ToksCte
         |SELECT a.doc_id, a.token_id AS begin_tok, a.token_id + 2 AS end_tok,
         |  a."begin", c."end"
         |FROM toks a JOIN toks c ON a.doc_id = c.doc_id AND c.token_id = a.token_id + 1
         |WHERE a.token_id % 6 = 0""".stripMargin,

    "q41_context" ->
      s"""WITH $ToksCte
         |SELECT t.doc_id, t."begin",
         |  substr(d.text, CAST(greatest(1, t."begin" + 1 - 10) AS BIGINT), CAST(least(t."begin", 10) AS BIGINT)) || '[' ||
         |  substr(d.text, CAST(t."begin" + 1 AS BIGINT), CAST(t."end" - t."begin" AS BIGINT)) || ']' ||
         |  substr(d.text, CAST(t."end" + 1 AS BIGINT), 10) AS ctx
         |FROM toks t JOIN documents d ON t.doc_id = d.doc_id
         |WHERE t.text LIKE 's%'""".stripMargin,

    "q42_unpack_semijoin" ->
      s"""WITH $ToksCte
         |SELECT doc_id, token_id, CAST("begin" + doc_id*1000 AS INT) AS "begin",
         |  CAST("end" + doc_id*1000 AS INT) AS "end" FROM toks""".stripMargin
  )

  // q141/q142/q143 run the same operator as q127/q18/q74, so they share
  // those oracles verbatim.
  val sql: Map[String, String] = base +
    ("q141_bm25_agg" -> base("q127_bm25")) +
    ("q142_ann_brute_agg" -> base("q18_ann_brute")) +
    ("q143_tfidf_agg" -> base("q74_tfidf")) +
    // the naive gap-band form the rule rewrites is result-identical to
    // q27's explicit adjacentJoin by construction
    ("q148_adjacent_rule" -> base("q27_adjacent_join")) +
    // the kernel encoder is result-identical to the replace chain by the
    // min-rank equivalence argument (Bpe.encodeWord doc; BpeSpec pins it)
    ("q152_bpe_fertility_kernel" -> base("q146_bpe_fertility")) +
    // q153 runs the same operator as q129
    ("q153_hard_negatives_agg" -> base("q129_hard_negatives")) +
    // the bucketed-index IVFADC form is result-identical to q149 by
    // construction (same index relation, same probed cells, same ADC
    // folds, same tie-breaks); q155 runs q149's operator
    ("q154_ivfpq_bucketed" -> base("q149_ivfpq")) +
    ("q155_ivfpq_agg" -> base("q149_ivfpq")) +
    // the stored residual index + cell-pruned probe is a results no-op
    // over q180's in-flight form (cell filter under the cell_id
    // equi-join), so it shares the residual mirror
    ("q184_ivfpq_residual_stored" -> base("q180_ivfpq_residual")) +
    // append(90%)∪append(10%) under frozen quantizers == the full-corpus
    // index relation row-for-row, so the probe result is q149's
    ("q162_ivfpq_append" -> base("q149_ivfpq")) +
    // refresh(corpus) ≡ build(corpus): the refresh retrains with the same
    // deterministic fits q149's CTEs unroll (smallest-id init, fixed
    // iterations, 6dp means) and re-encodes the full corpus, so probing
    // the refreshed stored index with the fresh quantizers equals the
    // one-shot IVFADC oracle — which the STALE-encoded index it replaced
    // would NOT have matched (the gate on the swap actually happening)
    ("q177_quantizer_refresh" -> base("q149_ivfpq")) +
    // (q159/q160 carry their own oracles since round-17: the probe
    // machinery is result-identical to the recompute forms, but their
    // slimmed corpus slices differ from q120/q117's)
    // the incremental HLL sketch is register-row-identical to the full
    // recompute (per-register MAX/SUM are exact integer folds over any
    // partition of the corpus), so the estimate read off the merged
    // sketch equals q158's
    ("q161_hll_incremental" -> base("q158_hll_distinct")) +
    // counter SUM-merge of corpus slices == one-shot counters, exactly
    ("q164_cms_incremental" -> base("q163_cms_counts")) +
    // bin SUM-merge of corpus slices == one-shot bins, exactly
    ("q166_len_quantiles_incremental" -> base("q165_len_quantiles")) +
    // signature MIN-merge of corpus slices == one-shot minima, exactly
    ("q168_src_jaccard_incremental" -> base("q167_src_jaccard_sketch")) +
    // register OR-merge of eval slices == one-shot filter, exactly
    // (bitwise OR is associative, commutative and idempotent), so the
    // merged-sketch verdicts equal q178's
    ("q179_bloom_incremental" -> base("q178_bloom_decontaminate")) +
    // the incremental-datasheet capstone reads the merged sketches, and
    // every member sketch is merge-exact (register MAX/SUM/MIN folds),
    // so the datasheet equals the four one-shot sketch oracles reshaped
    // into the tidy (source, metric, k, value) long form
    ("q171_datasheet_incremental" ->
      s"""SELECT source, 'est_distinct_tokens' AS metric, CAST(NULL AS VARCHAR) AS k,
         |    CAST(est_distinct AS DOUBLE) AS value FROM (${base("q158_hll_distinct")})
         |UNION ALL SELECT source, 'n_tokens', NULL, CAST(n_tokens AS DOUBLE)
         |  FROM (${base("q158_hll_distinct")})
         |UNION ALL SELECT source, 'hll_regs', NULL, CAST(n_regs AS DOUBLE)
         |  FROM (${base("q158_hll_distinct")})
         |UNION ALL SELECT source, 'token_count', token, CAST(est_count AS DOUBLE)
         |  FROM (${base("q163_cms_counts")})
         |UNION ALL SELECT source, 'n_docs', NULL, CAST(n_docs AS DOUBLE)
         |  FROM (${base("q165_len_quantiles")})
         |UNION ALL SELECT source, 'p50_len', NULL, CAST(p50_est AS DOUBLE)
         |  FROM (${base("q165_len_quantiles")})
         |UNION ALL SELECT source, 'p95_len', NULL, CAST(p95_est AS DOUBLE)
         |  FROM (${base("q165_len_quantiles")})
         |UNION ALL SELECT src_a, 'jaccard', src_b, CAST(est_jaccard AS DOUBLE)
         |  FROM (${base("q167_src_jaccard_sketch")})""".stripMargin)
}
