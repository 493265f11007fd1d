package graft

/** Generators of the DuckDB SQL in [[SparkEntry.oracleSql]]: every CTE
  * chain or expression that more than one oracle uses is written once
  * here, so a chain can only drift in one place.
  *
  * Engine constants are evaluated here and embedded as literals, which
  * keeps each oracle a pure-SQL artifact DuckDB runs with no engine code
  * in the loop. The integer pHash pipeline
  * ([[graft.multimodal.Multimodal.phashFromHex]] over
  * [[graft.functions.LshBucketMath]]: md5 hex pairs → byte-sum fold →
  * center at 255 → ×1000 quantize → 56 literal-sign dot products → bucket
  * bits) embeds the hyperplane signs of the same LCG as LshBucketMath;
  * every step is integer arithmetic on both engines, so the match is
  * exact, not approximate. The poly-hash family embeds
  * [[graft.functions.PolyHashMath]]'s constants the same way.
  */
private[graft] object OracleGen {

  /** Signs come from [[graft.functions.LshBucketMath.sign]] itself — the
    * oracle evaluates the engine's own LCG at generation time and embeds
    * the RESULTS as literals, so there is no second copy of the constants
    * to drift.
    */
  private def sign(i: Int, d: Int, planeOffset: Int): Long =
    graft.functions.LshBucketMath.sign(i, d, planeOffset)

  /** SQL for byte i (0-based) of the 16-byte value whose lowercase hex is
    * `h`: two strpos lookups — portable, no hex-cast dialect games.
    */
  def hexpair(h: String, i: Int): String =
    s"((strpos('0123456789abcdef', substr($h, ${2 * i + 1}, 1))-1)*16" +
      s" + (strpos('0123456789abcdef', substr($h, ${2 * i + 2}, 1))-1))"

  /** The 8 quantized-centered dims of the fold of hex column `h`. */
  def qExprs(h: String): Seq[String] =
    (0 until 8).map(d =>
      s"(${hexpair(h, d)} + ${hexpair(h, d + 8)} - 255) * 1000")

  /** The 56-bit bucket over integer columns `qCols`, signs as literals. */
  def bucketExpr(qCols: Seq[String], planeOffset: Int): String = {
    val bits = (0 until 56).map { i =>
      val dot = qCols.zipWithIndex.map { case (c, d) =>
        if (sign(i, d + 1, planeOffset) == 1) s"+ $c" else s"- $c"
      }.mkString(" ")
      s"CASE WHEN (0 $dot) >= 0 THEN ${1L << i} ELSE 0 END"
    }
    "(" + bits.mkString("\n     + ") + ")"
  }

  /** `q AS (SELECT <keys>, q0..q7 FROM <from>)` projection list. */
  def qSelect(h: String): String =
    qExprs(h).zipWithIndex.map { case (e, d) => s"$e AS q$d" }.mkString(", ")

  /** DuckDB SQL for [[graft.functions.PolyHash61]] of string expression
    * `s` — the engine's 61-bit rolling hash re-derived in HUGEINT: Horner
    * over Unicode code points, `(acc·B + cp) mod M`, `B`/`M` from
    * [[graft.functions.PolyHashMath]] itself (embedded as literals — no
    * second copy of the constants to drift). `list_reduce` with a single
    * element returns it and the Java fold of one code point is that code
    * point, so the conventions agree; the empty string is guarded to 0
    * (list_reduce errors on empty lists, the Java fold of zero terms is
    * 0). Yields BIGINT (< 2^61).
    */
  def polyHash61(s: String): String = {
    val B = graft.functions.PolyHashMath.B
    val M = graft.functions.PolyHashMath.M
    s"""CAST(CASE WHEN length($s) = 0 THEN 0 ELSE
       |  list_reduce(
       |    list_transform(range(1, length($s) + 1),
       |      j -> CAST(unicode(substr($s, j, 1)) AS HUGEINT)),
       |    (a, b) -> (a * $B + b) % $M) END AS BIGINT)""".stripMargin
  }

  /** DuckDB SQL for affine MinHash member i over a BIGINT poly-hash
    * column `h`: `(Aᵢ·h + Bᵢ) mod M` with the engine's own
    * [[graft.functions.PolyHashMath.affineA]]/[[graft.functions.PolyHashMath.affineB]]
    * constants evaluated here and embedded as literals (the hyperplane-
    * sign discipline). HUGEINT intermediate: Aᵢ·h is up to 2^122.
    */
  def polyAffine(h: String, i: Int): String = {
    val M = graft.functions.PolyHashMath.M
    s"CAST((CAST(${graft.functions.PolyHashMath.affineA(i)} AS HUGEINT) " +
      s"* $h + ${graft.functions.PolyHashMath.affineB(i)}) % $M AS BIGINT)"
  }

  /** DuckDB SQL for [[graft.functions.KgramPolyMinHash]] of string
    * expression `t`: min over char k-gram windows of the window's Horner
    * fold (one clamped window of the whole text when shorter than k —
    * `greatest(len-k+1, 1)` windows, each reading `range(i, least(i+k,
    * len+1))`). All values are in [0, 2^61), so BIGINT `list_min` is the
    * same order the Java loop uses.
    */
  def kgramPolyMin(t: String, k: Int): String = {
    val B = graft.functions.PolyHashMath.B
    val M = graft.functions.PolyHashMath.M
    s"""CAST(CASE WHEN length($t) = 0 THEN 0 ELSE
       |  list_min(list_transform(
       |    range(1, greatest(length($t) - ${k - 1}, 1) + 1),
       |    i -> list_reduce(
       |      list_transform(range(i, least(i + $k, length($t) + 1)),
       |        j -> CAST(unicode(substr($t, j, 1)) AS HUGEINT)),
       |      (a, b) -> (a * $B + b) % $M))) END AS BIGINT)""".stripMargin
  }

  /** DuckDB SQL for one [[graft.functions.WordNgramHashes]] window value:
    * the nested mod-M Horner fold of the n per-token poly hashes,
    * `(((h₁·B + h₂) mod M)·B + h₃) mod M` — `tokenSql(j)` supplies the
    * SQL of 1-based token j's TEXT (e.g. `t[i]`, `t[i+1]`…), each hashed
    * by [[polyHash61]]. The engine's fused byte walk computes the
    * identical value (same per-token hash, same fold order).
    */
  def wordNgramPolySql(tokenSql: Int => String, n: Int): String = {
    val B = graft.functions.PolyHashMath.B
    val M = graft.functions.PolyHashMath.M
    val first = s"CAST(${polyHash61(tokenSql(1))} AS HUGEINT)"
    val chain = (2 to n).foldLeft(first)((acc, j) =>
      s"(($acc * $B + ${polyHash61(tokenSql(j))}) % $M)")
    s"CAST($chain AS BIGINT)"
  }

  /** ` WHERE <cond>`, or nothing for an empty condition. */
  private def whereSql(cond: String): String =
    if (cond.isEmpty) "" else s" WHERE $cond"

  /** The engine's word tokenization of `text`: split on `\s+`
    * ([[graft.text.TextDedup]], the LM and chunking operators).
    */
  val words: String = "string_split_regex(text, '\\s+')"

  /** `SELECT <cols>, <words> AS t FROM <from> [WHERE <where>]`: one
    * token array `t` per row.
    */
  def wordTokens(where: String = "", cols: String = "doc_id",
                 from: String = "documents"): String =
    s"SELECT $cols, $words AS t FROM $from${whereSql(where)}"

  /** The word n-gram starting at token `i` of array `t`, joined by one
    * space: `t[i] || ' ' || t[i+1] || …`.
    */
  def wordGram(n: Int): String =
    ("t[i]" +: (1 until n).map(j => s"t[i+$j]")).mkString(" || ' ' || ")

  /** A parenthesised FROM item with one row per n-gram start `i` of the
    * token rows of `from` (`where` filters them; rows under n tokens
    * drop out).
    */
  def gramStarts(n: Int, from: String, cols: String = "doc_id, t",
                 where: String = ""): String = {
    val last = if (n == 2) "len(t)" else s"len(t) - ${n - 2}"
    val cond = (if (where.isEmpty) "" else s"$where AND ") + s"len(t) >= $n"
    s"(SELECT $cols, unnest(range(1, $last)) AS i FROM $from WHERE $cond)"
  }

  /** `(doc_id[, pos], shingle)` rows of the word-trigram shingles of the
    * token rows `from`: a CTE name, or by default the whole `documents`
    * table tokenized inline. `distinct` keeps one row per doc and
    * shingle; `pos` adds the 1-based start token.
    */
  def trigramShingles(from: String = s"(${wordTokens("TRUE")})",
                      distinct: Boolean = false,
                      pos: Boolean = false): String =
    s"SELECT ${if (distinct) "DISTINCT " else ""}doc_id, " +
      s"${if (pos) "i AS pos, " else ""}${wordGram(3)} AS shingle " +
      s"FROM ${gramStarts(3, from)}"

  /** `toks` ([[wordTokens]] of every document) and `sh` (its
    * [[trigramShingles]]), as two CTEs: one row per distinct doc and
    * shingle, or with `pos` one row per shingle start.
    */
  def shingleCtes(pos: Boolean = false): String =
    s"""toks AS (
       |  ${wordTokens()}),
       |sh AS (
       |  ${trigramShingles("toks", distinct = !pos, pos)})""".stripMargin

  /** `(doc_id, w1, w2)` bigram rows of CTE `toks` (`where` filters the
    * token rows); `docIds = false` drops the doc_id column.
    */
  def bigrams(where: String = "", docIds: Boolean = true): String = {
    val id = if (docIds) "doc_id, " else ""
    s"SELECT ${id}t[i] AS w1, t[i+1] AS w2 FROM ${gramStarts(2, "toks", s"${id}t", where)}"
  }

  /** The bigram LM's two count CTEs over bigram rows `bg`: `c(w1, w2,
    * c12)` and `u(w1, c1)`, c1 cast back to BIGINT.
    */
  def bigramCounts(bg: String, c: String = "c", u: String = "u"): String =
    s"""$c AS (SELECT w1, w2, COUNT(*) AS c12 FROM $bg GROUP BY 1, 2),
       |$u AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM $c GROUP BY 1)""".stripMargin

  /** Per doc of `bg`: bigram count, how many `c` knows, and the summed
    * `c12` and `u.c1` counts, integers only.
    */
  val bigramStats: String =
    """SELECT b.doc_id, COUNT(*) AS n_bigrams, COUNT(c.c12) AS n_known,
      |  CAST(SUM(COALESCE(c.c12, 0)) AS BIGINT) AS sum_c12,
      |  CAST(SUM(COALESCE(u.c1, 0)) AS BIGINT) AS sum_c1
      |FROM bg b
      |LEFT JOIN c ON b.w1 = c.w1 AND b.w2 = c.w2
      |LEFT JOIN u ON b.w1 = u.w1
      |GROUP BY b.doc_id""".stripMargin

  /** `v(v)`: the vocabulary size of the `toks` rows matching `where`. */
  def vocabSize(where: String = ""): String =
    s"v AS (SELECT COUNT(DISTINCT tok) AS v FROM (SELECT unnest(t) AS tok FROM toks${whereSql(where)}))"

  /** The add-one perplexity gate over `bg`, `c`, `u` and `v`: per-doc
    * perplexity, then the `(doc_id, lang, n_bigrams)` of the docs at or
    * under `maxPpl`.
    */
  def pplGate(maxPpl: String): String =
    s"""sc AS (
       |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
       |    exp(-SUM(ln(CAST(COALESCE(c.c12, 0) + 1 AS DOUBLE) /
       |                 CAST(COALESCE(u.c1, 0) + v.v AS DOUBLE)))
       |        / COUNT(*)) AS ppl
       |  FROM bg b
       |  LEFT JOIN c ON b.w1 = c.w1 AND b.w2 = c.w2
       |  LEFT JOIN u ON b.w1 = u.w1
       |  CROSS JOIN v
       |  GROUP BY b.doc_id)
       |SELECT s.doc_id, d.lang, s.n_bigrams
       |FROM sc s JOIN documents d ON d.doc_id = s.doc_id
       |WHERE s.ppl <= $maxPpl""".stripMargin

  /** The curation signals over CTE `base(doc_id, text, t)`: `lang`
    * (stopword-vote language), `qual` (the quality score), and `rep`
    * (the distinct-trigram repetition ratio, via `tot` and `sh`).
    */
  val curateCtes: String =
    s"""lang AS (
       |  SELECT doc_id,
       |    CASE WHEN en >= es AND en >= de AND en >= fr AND en >= zh THEN 'en'
       |         WHEN es >= de AND es >= fr AND es >= zh THEN 'es'
       |         WHEN de >= fr AND de >= zh THEN 'de'
       |         WHEN fr >= zh THEN 'fr'
       |         ELSE 'zh' END AS pred_lang
       |  FROM (SELECT doc_id,
       |    len(list_intersect(list_distinct(t), ['the', 'a', 'row'])) AS en,
       |    len(list_intersect(list_distinct(t), ['data', 'query'])) AS es,
       |    len(list_intersect(list_distinct(t), ['merge', 'batch'])) AS de,
       |    len(list_intersect(list_distinct(t), ['stream', 'filter'])) AS fr,
       |    len(list_intersect(list_distinct(t), ['window', 'join'])) AS zh
       |  FROM base)),
       |qual AS (
       |  SELECT doc_id,
       |    (CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) * 2.0
       |      + (CAST(len(list_filter(t, x -> list_contains(['the', 'a'], x))) AS DOUBLE) / len(t))
       |      - (CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text))
       |      AS quality
       |  FROM base),
       |tot AS (SELECT doc_id, CAST(len(t) - 2 AS BIGINT) AS n_tot
       |        FROM base WHERE len(t) >= 3),
       |sh AS (${trigramShingles("base", distinct = true)}),
       |rep AS (
       |  SELECT tot.doc_id, 1.0 - CAST(d.n AS DOUBLE) / tot.n_tot AS repetition
       |  FROM tot JOIN (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id) d
       |    ON d.doc_id = tot.doc_id)""".stripMargin

  /** Merges the hot-trigram starts `hits(doc_id, pos)` into token spans
    * (a start more than 3 past the previous one opens a new span) and
    * selects the spans of at least 6 tokens.
    */
  val spanMerge: String =
    """flagged AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > LAG(pos) OVER
      |        (PARTITION BY doc_id ORDER BY pos) + 3 THEN 1 ELSE 0 END
      |      AS newspan
      |  FROM hits),
      |sp AS (
      |  SELECT doc_id, pos,
      |    SUM(newspan) OVER (PARTITION BY doc_id ORDER BY pos) AS span
      |  FROM flagged)
      |SELECT doc_id, MIN(pos) AS start_pos, MAX(pos) + 2 AS end_pos,
      |  MAX(pos) + 2 - MIN(pos) + 1 AS n_span_tokens
      |FROM sp GROUP BY doc_id, span
      |HAVING MAX(pos) + 2 - MIN(pos) + 1 >= 6""".stripMargin

  /** The audio fingerprint windows: `toks` of the audio documents
    * (doc_id % 3 = 1) and `w(asset_id, wi, <fp>)`, the 8-hex md5 prefix of
    * each word trigram at 0-based window `wi`.
    */
  def audioWindowCtes(fp: String): String =
    s"""toks AS (
       |  ${wordTokens("doc_id % 3 = 1")}),
       |w AS (
       |  SELECT doc_id AS asset_id, i - 1 AS wi,
       |    substr(md5(${wordGram(3)}), 1, 8) AS $fp
       |  FROM ${gramStarts(3, "toks")})""".stripMargin

  /** Per asset pair of `votes(asset_a, asset_b, dt, votes)`: the best
    * alignment offset (most votes, then the lowest dt) when it has at
    * least 2 votes, and the total matched windows.
    */
  val bestOffset: String =
    """best AS (SELECT asset_a, asset_b, MAX(votes) AS best_votes,
      |    CAST(SUM(votes) AS BIGINT) AS n_matched
      |  FROM votes GROUP BY 1, 2 HAVING MAX(votes) >= 2)
      |SELECT b.asset_a, b.asset_b, b.best_votes,
      |  MIN(v.dt) AS best_dt, b.n_matched
      |FROM best b JOIN votes v USING (asset_a, asset_b)
      |WHERE v.votes = b.best_votes
      |GROUP BY b.asset_a, b.asset_b, b.best_votes, b.n_matched""".stripMargin

  /** The video frame hashes: `toks` of the video documents
    * (doc_id % 3 = 2), `fr` (the 14-hex md5 prefix of each word 5-gram),
    * `hashes` (distinct per asset) and `pa(asset_id, n)`.
    */
  val frameHashCtes: String =
    s"""toks AS (
       |  ${wordTokens("doc_id % 3 = 2")}),
       |fr AS (
       |  SELECT doc_id AS asset_id,
       |    substr(md5(${wordGram(5)}), 1, 14) AS fhash
       |  FROM ${gramStarts(5, "toks")}),
       |hashes AS (SELECT DISTINCT asset_id, fhash FROM fr),
       |pa AS (SELECT asset_id, COUNT(*) AS n FROM hashes GROUP BY asset_id)""".stripMargin

  /** `tok` (each document's distinct tokens) and `ov(probe_id, doc_id,
    * kw_overlap)`, the shared-token count of every other document with
    * probe docs 0..2.
    */
  val keywordOverlapCtes: String =
    s"""tok AS (
       |  SELECT DISTINCT doc_id,
       |    unnest($words) AS token
       |  FROM documents),
       |ov AS (
       |  SELECT pt.doc_id AS probe_id, ct.doc_id AS doc_id,
       |    COUNT(*) AS kw_overlap
       |  FROM tok pt JOIN tok ct
       |    ON pt.token = ct.token AND ct.doc_id != pt.doc_id
       |  WHERE pt.doc_id < 3 GROUP BY 1, 2)""".stripMargin

  /** The two ranked lists hybrid retrieval fuses: `dense` (rank_vec, the
    * top 20 of `cand` by cosine) and `sparse` (rank_kw, the top 20 by
    * [[keywordOverlapCtes]]).
    */
  val hybridRankCtes: String =
    s"""dense AS (
       |  SELECT probe_id, neighbor_id AS doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank_vec
       |  FROM cand QUALIFY rank_vec <= 20),
       |$keywordOverlapCtes,
       |sparse AS (
       |  SELECT probe_id, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY kw_overlap DESC, doc_id) AS INT) AS rank_kw
       |  FROM ov QUALIFY rank_kw <= 20)""".stripMargin

  /** The L2 norm of list column `a` as DOUBLE. */
  def norm(a: String): String =
    s"sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))"

  /** Cosine of list columns `a` and `b`: the dot product over the product
    * of the two norms, in the operation order
    * [[graft.functions.CosineSimilarity]] uses, so the doubles are
    * bit-exact.
    */
  def cosine(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))" +
      s" / (${norm(a)} * ${norm(b)})"

  /** The IVF index over `embeddings`: `centroids` (the 16 lowest vec_ids
    * among the rows matching `corpus`) and `ccos(vec_id, <cols> c_id,
    * ccos)`, every vector's cosine to every centroid (`where` filters the
    * vectors).
    */
  def ivfCtes(corpus: String = "", cols: String = "",
              where: String = ""): String =
    s"""centroids AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb
       |  FROM embeddings${whereSql(corpus)} ORDER BY vec_id LIMIT 16),
       |ccos AS (
       |  SELECT e.vec_id, $cols${if (cols.isEmpty) "" else ", "}c.c_id,
       |    ${cosine("e.embedding", "c.c_emb")} AS ccos
       |  FROM embeddings e CROSS JOIN centroids c${whereSql(where)})""".stripMargin

  /** The `k` nearest lists (`list_id`) of each `ccos` vector matching
    * `where`, with `cols`: ties go to the lowest c_id.
    */
  def ivfTop(cols: String, where: String = "", k: Int = 1): String =
    s"SELECT $cols, c_id AS list_id FROM ccos${whereSql(where)}" +
      " QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) " +
      (if (k == 1) "= 1" else s"<= $k")

  /** The IVF probe: [[ivfCtes]], `assign` (every vector matching
    * `assignWhere` in its nearest list), `plists` (the `nProbe` nearest
    * lists of each `probes` vector) and `cand(probe_id, neighbor_id,
    * cosine)`, the exact cosine of every other vector in a probed list.
    */
  def ivfProbeCtes(probes: String = "vec_id < 10", nProbe: Int = 4,
                   assignWhere: String = ""): String =
    s"""${ivfCtes()},
       |assign AS (
       |  ${ivfTop("vec_id AS neighbor_id", assignWhere)}),
       |plists AS (
       |  ${ivfTop("vec_id AS probe_id", probes, nProbe)}),
       |cand AS (
       |  SELECT pl.probe_id, a.neighbor_id,
       |    ${cosine("p.embedding", "n.embedding")} AS cosine
       |  FROM plists pl
       |  JOIN assign a ON a.list_id = pl.list_id AND a.neighbor_id != pl.probe_id
       |  JOIN embeddings p ON p.vec_id = pl.probe_id
       |  JOIN embeddings n ON n.vec_id = a.neighbor_id)""".stripMargin

  /** The engine's integer PageRank over the customer–supplier order graph,
    * 3 fixed-point steps unrolled into CTEs `r0`..`r3` (`node`, `rank`):
    * ranks start at 10^12 // n, and each step adds the teleport term
    * 150000000000 // n ((10^12 · 3) // 20, damping 17/20) to 17/20 of the
    * rank mass flowing in. `//` is integral on every term, as `div` is on
    * the Spark side.
    */
  val pagerankCtes: String = {
    val steps = (1 to 3).map(k =>
      s"""r$k AS (SELECT nd.node,
         |         (150000000000 // nn.n) + (17*COALESCE(c.s,0)) // 20 AS rank
         |       FROM nodes nd CROSS JOIN nn
         |       LEFT JOIN (SELECT e.dst AS node, SUM(r.rank // d.deg) AS s
         |                  FROM r${k - 1} r JOIN e ON e.src = r.node
         |                  JOIN deg d ON d.src = r.node
         |                  GROUP BY e.dst) c ON c.node = nd.node)""".stripMargin)
    s"""e0 AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
       |       FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |e AS (SELECT src, dst FROM e0
       |      UNION SELECT dst AS src, src AS dst FROM e0),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |nodes AS (SELECT src AS node FROM e
       |          UNION SELECT dst AS node FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, 1000000000000 // n AS rank
       |       FROM nodes CROSS JOIN nn),
       |${steps.mkString(",\n")}""".stripMargin
  }

  /** The CTE list (no `WITH`) re-deriving
    * [[graft.text.TextDedup.nearDupPairs]] over the `(doc_id, shingle)`
    * rows of `shingles`, ending in `pairs(doc_a, doc_b, jaccard)`: the
    * poly-hash affine MinHash ([[polyHash61]] once per distinct shingle
    * string, fanned to 8 [[polyAffine]] minima), 2 bands of 4 '|'-joined
    * values, band-equality candidates restricted by `sides` (over band
    * rows `a`, `b`), and the exact Jaccard of the hashed shingle sets
    * ≥ 0.5. `hsh` and `pairs` are `MATERIALIZED`: DuckDB otherwise
    * inlines a CTE at every reference, re-running the per-character
    * hash fold for sig, sizes and both verify sides (measured ~15× on
    * the components statement).
    */
  def nearDupCtes(shingles: String,
                  sides: String = "a.doc_id < b.doc_id"): String = {
    val sig = (0 until 8).map(i => s"    MIN(${polyAffine("h", i)}) AS m$i")
      .mkString(",\n")
    def band(ms: Range) =
      ms.map(i => s"CAST(m$i AS VARCHAR)").mkString(" || '|' || ")
    s"""ush AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, shingle FROM ($shingles)),
       |hsh AS MATERIALIZED (
       |  SELECT DISTINCT u.doc_id, k.h FROM ush u
       |  JOIN (SELECT shingle, ${polyHash61("shingle")} AS h
       |        FROM (SELECT DISTINCT shingle FROM ush)) k
       |    ON k.shingle = u.shingle),
       |sig AS (
       |  SELECT doc_id,
       |$sig
       |  FROM hsh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, ${band(0 until 4)} AS band, 0 AS band_id FROM sig
       |  UNION ALL
       |  SELECT doc_id, ${band(4 until 8)} AS band, 1 AS band_id FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_id = b.band_id AND $sides),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM hsh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
       |  FROM cand c
       |  JOIN hsh sa ON sa.doc_id = c.doc_a
       |  JOIN hsh sb ON sb.doc_id = c.doc_b AND sa.h = sb.h
       |  GROUP BY c.doc_a, c.doc_b),
       |pairs AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) AS jaccard
       |  FROM cand c
       |  JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |  JOIN sizes za ON za.doc_id = c.doc_a
       |  JOIN sizes zb ON zb.doc_id = c.doc_b
       |  WHERE CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) >= 0.5)""".stripMargin
  }

  /** [[nearDupCtes]] plus the component walk over its pairs, ending in
    * `clusters(doc_id, cluster_id)` — every label reachable through the
    * symmetric edge set, MIN per doc = the component minimum that
    * [[graft.text.TextDedup.dedupClusters]] converges to. The walk is
    * recursive: the enclosing statement must open with `WITH RECURSIVE`.
    */
  def clusterCtes(shingles: String): String =
    s"""${nearDupCtes(shingles)},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |walk AS (
       |  SELECT src AS doc_id, src AS lab FROM edges
       |  UNION
       |  SELECT e.src AS doc_id, w.lab
       |  FROM edges e JOIN walk w ON w.doc_id = e.dst),
       |clusters AS (
       |  SELECT doc_id, MIN(lab) AS cluster_id FROM walk GROUP BY doc_id)""".stripMargin

  /** The 60-bit simhash fold of per-token hash column `h` as an
    * aggregate SQL expression (one per-doc GROUP BY consumes it): bit i
    * is set iff strictly more tokens carry a 1 there than a 0 —
    * `2·ones > n`, the exact [[graft.functions.SimHashAgg]] `> 0`
    * counter semantics. Bits 60–63 are structurally 0 (the portable
    * md5-prefix hash is 60-bit), so the fold stops at 60.
    */
  def simhashExpr(h: String): String =
    (0 until 60).map(i =>
      s"CASE WHEN 2 * SUM(($h >> $i) & 1) > COUNT(*) " +
        s"THEN ${1L << i} ELSE 0 END")
      .mkString("(", "\n     + ", ")")
}
