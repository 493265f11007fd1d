package graft

/** Generates the DuckDB-SQL twin of the integer pHash pipeline
  * ([[graft.multimodal.Multimodal.phashFromHex]] over
  * [[graft.functions.LshBucketMath]]): md5 hex pairs → byte-sum fold →
  * center at 255 → ×1000 quantize → 56 literal-sign dot products → bucket
  * bits. Every step is integer arithmetic on both engines, so the oracle
  * match is exact, not approximate — the hyperplane signs are evaluated
  * HERE (same LCG as LshBucketMath) and embedded as +/- literals in the
  * generated SQL, which keeps the oracle a pure-SQL artifact DuckDB can
  * run with no engine code in the loop.
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

  /** `(doc_id, shingle)` rows of the word-trigram shingles of the
    * `documents` rows matching `where` — the [[graft.text.TextDedup]]
    * tokenization (split on `\s+`, documents under 3 tokens drop out).
    */
  def trigramShingles(where: String = "TRUE"): String =
    s"""SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
       |        FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS t
       |              FROM documents WHERE $where)
       |        WHERE len(t) >= 3)""".stripMargin

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
