package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftplan.FreshPlan
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType,
  StructField, StructType}

import graft.functions.PolyHashMath

/** Document deduplication family (SURVEY.md §2.4 A8 + north star):
  * exact, MinHash+LSH near-dup, n-gram Jaccard verification, SimHash.
  *
  * Scale design: every step is a keyed shuffle or a band-bucketed join —
  * never an all-pairs comparison. The LSH band join's cost is Σ_band
  * (bucket size)², which at 100 TB is controlled by the band width (wider
  * bands → fewer, more-similar candidates); the exact-Jaccard verify runs
  * only on LSH candidates.
  *
  * Hash choice: ONE MinHash family, the 61-bit poly hash
  * ([[graft.functions.PolyHashMath]]): one O(len) rolling hash per
  * shingle fanned to k affine minima, codegen'd in Spark and plain SQL in
  * DuckDB ([[graft.OracleGen.nearDupCtes]]), so every near-dup row is
  * hash-exact oracle-checked. SimHash keeps its md5-prefix token hash
  * (its own operator, also SQL-expressible).
  */
object TextDedup {

  /** Exact dedup (A8-exact): one row per distinct text, keyed by md5. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles per document. Documents shorter than n
    * tokens produce no shingles (guarded: Spark's `sequence` would count
    * DOWN for a negative span).
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shinglesRaw(docs, n).distinct()

  /** Shingles WITHOUT the distinct — no shuffle, straight off the scan.
    * Enough for MinHash signatures (MIN is duplicate-invariant), which
    * saves the (doc_id, shingle) exchange on the pipeline's longest chain;
    * set-semantics steps (sizes, intersection) need [[shingles]].
    */
  private[text] def shinglesRaw(docs: DataFrame, n: Int = 3): DataFrame =
    shinglesWithPos(docs, n).select(col("doc_id"), col("shingle"))

  /** [[shinglesRaw]] keeping the 1-based token START position of each
    * n-gram (`pos` ∈ [1, n_tokens − n + 1]) — the input to position-aware
    * consumers ([[repeatedSpans]]). Column pruning drops `pos` for
    * consumers that don't read it, so [[shinglesRaw]] costs nothing extra
    * by delegating here.
    */
  private[graft] def shinglesWithPos(docs: DataFrame, n: Int = 3): DataFrame = {
    // Explode the window-start INDEX and project the n-gram with plain
    // element_at, rather than explode(transform(..., i -> concat_ws(...))):
    // lambda (HOF) expressions are interpreted, not codegen'd, so the
    // transform form evaluated the per-shingle concat outside whole-stage
    // codegen — on the corpus scan, the pipeline's hottest expression.
    val gram = concat_ws(" ",
      (0 until n).map(k => expr(s"element_at(_toks, CAST(_i + $k AS INT))")): _*)
    docs
      .withColumn("_toks", split(col("text"), "\\s+"))
      .filter(size(col("_toks")) >= n)
      .withColumn("_i", explode(expr(s"sequence(1, size(_toks) - ${n - 1})")))
      .select(col("doc_id"), col("_i").cast("long").as("pos"),
        gram.as("shingle"))
  }

  /** The production hash-identity form of [[shinglesWithPos]]:
    * (doc_id, pos, _h) where `_h` is the [[graft.functions.WordNgramHashes]]
    * identity of the n-gram at 1-based token position `pos`. One codegen'd
    * byte walk per document — no regex split, no per-window string. Hash
    * values are engine-internal identity (NOT `xxhash64(shingle)`);
    * consumers that need the n-gram TEXT use [[shinglesWithPos]].
    */
  private[text] def hashedShinglesWithPos(docs: DataFrame,
                                          n: Int): DataFrame =
    docs.select(col("doc_id"),
        posexplode(graft.functions.WordNgramHashesMath
          .wordNgramHashesCol(col("text"), n)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("_h"))

  /** MinHash signature: `numHashes` per-doc minima of the codegen'd
    * poly-hash affine family ([[graft.functions.PolyHashes]] — ONE O(len)
    * rolling hash per shingle, fanned to `numHashes` affine transforms).
    * One hash-aggregate on doc_id; signature columns are m0..m{k-1},
    * BIGINT.
    */
  def minhashSignatures(shingleDf: DataFrame, numHashes: Int = 8): DataFrame = {
    val withH = shingleDf.select(col("doc_id"),
      PolyHashMath.polyHashesCol(col("shingle"), numHashes).as("_ph"))
    val aggs = (0 until numHashes).map { i =>
      min(element_at(col("_ph"), i + 1)).as(s"m$i")
    }
    withH.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** In-partition ordered-pair expansion over a sorted per-bucket array
    * `col`: every (a, b) with a strictly before b, projected by `inner`
    * (an expression over struct/scalar lambda vars `a` and `b`). The
    * slice arithmetic lives HERE once — it is shared by every bucket
    * join ([[lshCandidates]], the fused near-dup pipeline,
    * [[simhashNearDups]]).
    */
  private def pairExpand(colName: String, inner: String): org.apache.spark.sql.Column =
    explode(expr(
      s"""flatten(transform($colName, (a, i) ->
         |  transform(slice($colName, i + 2, size($colName) - i - 1), b ->
         |    $inner)))""".stripMargin))

  /** The `numBands` '|'-joined band values over signature columns m0..m{k-1}. */
  private def bandCols(numHashes: Int, numBands: Int): Seq[org.apache.spark.sql.Column] = {
    val rowsPerBand = numHashes / numBands
    (0 until numBands).map { b =>
      concat_ws("|",
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"m$i")): _*)
    }
  }

  /** LSH banding: split the signature into `numBands` concatenated bands
    * and bucket per (band_id, band value). Returns distinct candidate
    * pairs with doc_a < doc_b. Band cells are '|'-delimited so the
    * variable-width BIGINT values cannot alias across cell boundaries.
    *
    * Shape: ONE pass over `signatures` — bands posexplode off each row,
    * one shuffle to (band_id, band) buckets, and the candidate pairs
    * expand in-partition from the sorted per-bucket id list. The earlier
    * union + self-join form consumed the signature plan four times (two
    * union branches × two join sides) and Spark re-executed the whole
    * upstream shingle scan for each — 4× the dominant cost. Pair count is
    * still Σ_band (bucket size)², controlled by band width; per-task
    * memory is O(bucket size), which the LSH design bounds (run
    * [[exactDedup]] first so identical-text floods can't create a
    * degenerate bucket).
    */
  def lshCandidates(signatures: DataFrame, numHashes: Int = 8,
                    numBands: Int = 2): DataFrame =
    signatures
      .select(col("doc_id"), posexplode(array(bandCols(numHashes, numBands): _*)))
      .withColumnsRenamed(Map("pos" -> "band_id", "col" -> "band"))
      .groupBy(col("band_id"), col("band"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(pairExpand("ids", "struct(a AS doc_a, b AS doc_b)").as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** Exact n-gram Jaccard, computed ONLY for the candidate pairs (the
    * verify step of MinHash/LSH). Output: (doc_a, doc_b, jaccard).
    *
    * Inner semantics: pairs with an EMPTY intersection are omitted (their
    * jaccard is 0, which any positive threshold filters anyway, and the
    * DuckDB oracle's verify join is inner too). This lets the expensive
    * `candidates` plan be consumed exactly once — a left join back onto it
    * would re-execute the whole LSH subtree just to emit rows the caller
    * throws away.
    */
  def jaccardVerify(candidates: DataFrame, shingleDf: DataFrame): DataFrame = {
    val sizes = shingleDf.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val sa = shingleDf.select(col("doc_id").as("doc_a"), col("shingle"))
    val sb = shingleDf.select(col("doc_id").as("doc_b"), col("shingle"))
    candidates
      .join(sa, Seq("doc_a")).join(sb, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_a", "n" -> "na")), Seq("doc_a"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "n" -> "nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
  }

  /** Persistable near-dup signature index over a corpus: one row per
    * (doc, LSH band) with the band value and the doc's distinct shingle
    * set `sh` — everything [[nearDupAgainstIndex]] needs to both
    * CANDIDATE (band equality) and VERIFY (exact Jaccard) an incoming
    * document without touching the corpus text again. It is also the
    * shared first half of [[nearDupPairs]]. A MinHash signature depends
    * only on its own document's shingles, so index rows built
    * corpus-split by corpus-split are identical to a single full build —
    * the index can be appended batch by batch.
    *
    * The k affine hashes are PROJECTED once per shingle row as an array
    * (one expression evaluation), then each min-agg reads its element —
    * k hash computations per row, not k per aggregate child evaluation.
    * `sh` holds each shingle's poly_hash61 key (`array<bigint>`), not the
    * n-gram text: the band shuffle carries 8 bytes per distinct shingle,
    * and the Jaccard of the hashed sets equals the exact n-gram Jaccard
    * up to 61-bit collisions (~n²/2⁶¹, negligible at any corpus size
    * that fits an LSH bucket) — the SQL twin hashes identically, so even
    * a collision agrees across engines.
    */
  def signatureIndex(docs: DataFrame, numHashes: Int = 8,
                     numBands: Int = 2): DataFrame = {
    val profAggs = (0 until numHashes)
      .map(i => min(element_at(col("_h"), i + 1)).as(s"m$i")) :+
      collect_set(PolyHashMath.polyHash61Col(col("shingle"))).as("sh")
    shinglesRaw(docs)
      .select(col("doc_id"), col("shingle"),
        PolyHashMath.polyHashesCol(col("shingle"), numHashes).as("_h"))
      .groupBy(col("doc_id")).agg(profAggs.head, profAggs.tail: _*)
      .select(col("doc_id"), col("sh"),
        posexplode(array(bandCols(numHashes, numBands): _*)))
      .withColumnsRenamed(Map("pos" -> "band_id", "col" -> "band"))
  }

  /** Full near-dup pipeline: shingle → minhash → LSH candidates → exact
    * Jaccard ≥ threshold, in ONE pass over the corpus. The staged form
    * ([[minhashSignatures]] → [[lshCandidates]] → [[jaccardVerify]])
    * consumes the shingle subtree four times (signature branch + both
    * verify sides + sizes) and Spark re-executes the tokenize/explode scan
    * for each — exchange reuse never fires across the differing aggregates.
    * Here a single groupBy(doc_id) ([[signatureIndex]]) emits the minhash
    * minima AND the distinct shingle set; the set rides into the band
    * buckets, so the exact Jaccard is computed at pair-expansion time
    * from data already in-partition. Plan: scan → explode →
    * hash-agg(doc_id) → posexplode bands → hash-agg(band) → in-partition
    * pair expand → distinct. Three shuffles, zero joins, one scan.
    *
    * Per-bucket memory grows from O(ids) to O(ids × shingle set); LSH
    * bucket sizes are bounded by band width, and identical-text floods
    * must be removed first via [[exactDedup]] (same caveat as
    * [[lshCandidates]]). Identical texts always pair: equal shingle sets
    * give equal signatures, hence equal bands. Oracle:
    * [[graft.OracleGen.nearDupCtes]] (q30/q64).
    */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // Contract boundary: the staged form's inner verify join omits
    // zero-intersection candidates, the fused form emits them with
    // jaccard 0.0 — any POSITIVE threshold filters both identically
    // (the equivalence the property spec asserts); at <= 0 they differ.
    require(threshold > 0,
      s"nearDup threshold must be > 0 (zero-overlap pairs are not " +
        s"near-dups and are not materialized), got $threshold")
    signatureIndex(docs)
      .groupBy(col("band_id"), col("band"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sh")))).as("items"))
      .filter(size(col("items")) > 1)
      .select(pairExpand("items",
        """struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       size(array_intersect(a.sh, b.sh)) AS n_inter,
          |       size(a.sh) AS na, size(b.sh) AS nb)""".stripMargin).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        (col("p.n_inter").cast("double") /
          (col("p.na") + col("p.nb") - col("p.n_inter"))).as("jaccard"))
      .distinct()
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup: which documents of a NEW batch near-duplicate
    * something already in the corpus — without re-pairing the corpus.
    * `index` is the persisted [[signatureIndex]] of the existing corpus
    * (read back from parquet in production); `batchIndex` is the same
    * transform over the delta. Output: (doc_a = corpus doc, doc_b = batch
    * doc, jaccard >= threshold).
    *
    * Scale shape — this is the 100 TB daily-delta pattern: the corpus
    * index is SCANNED once (no shuffle on it: the batch side broadcasts,
    * so band matching is map-side against each index partition), the
    * delta is broadcast-small by construction (a day's intake vs the
    * accumulated corpus), and the exact-Jaccard verify happens inside the
    * join projection from the two shingle sets already co-located by the
    * broadcast. Nothing re-pairs corpus-vs-corpus; cost is linear in the
    * index, not quadratic in history. Batch-internal dups are a separate
    * (and far smaller) [[nearDupPairs]] run over the batch alone.
    */
  def nearDupAgainstIndex(index: DataFrame, batchIndex: DataFrame,
                          threshold: Double): DataFrame = {
    require(threshold > 0,
      s"nearDup threshold must be > 0, got $threshold")
    // a persisted index is input from outside the run: an md5-era index
    // (raw n-gram strings in `sh`, md5-hex bands) would probe poly-hash
    // bands and silently pair nothing
    val sh = index.schema.find(_.name == "sh").map(_.dataType)
    require(sh.exists { case ArrayType(LongType, _) => true; case _ => false },
      "nearDupAgainstIndex: index.sh must be array<bigint> (poly_hash61 " +
        s"shingle keys), got ${sh.fold("no sh column")(_.simpleString)} — " +
        "array<string> is the retired md5 signature-index format; rebuild " +
        "the index with signatureIndex")
    val probe = broadcast(batchIndex.select(col("band_id"), col("band"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b")))
    index
      .join(probe, Seq("band_id", "band"))
      .filter(col("doc_id") =!= col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"),
        size(array_intersect(col("sh"), col("sh_b"))).as("_ni"),
        size(col("sh")).as("_na"), size(col("sh_b")).as("_nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("_ni").cast("double") /
          (col("_na") + col("_nb") - col("_ni"))).as("jaccard"))
      .distinct()
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over near-dup pairs — the survivor-selection
    * step a dedup pipeline needs AFTER pair generation (a transitive dup
    * chain a~b~c must keep one document, not lose b twice and keep both
    * ends). Returns (doc_id, cluster_id) for every document appearing in
    * a pair, where cluster_id is the MINIMUM doc_id of its connected
    * component; the component representative is the row with
    * doc_id = cluster_id.
    *
    * Algorithm: Shiloach-Vishkin-style hook + compress — each round
    * flattens the label forest by two pointer-jumping steps (|V|-row
    * self-joins), then merges adjacent TREES by proposing each edge's
    * other-side root to its own root (one edge equi-join + one
    * partial+final min aggregate), converging in O(log diameter) edge
    * rounds. Labels are
    * checkpointed FRESH between rounds ([[org.apache.spark.sql.graftplan
    * .FreshPlan.localCheckpointFresh]]) so neither the plan nor its
    * size statistics grow with iteration count — a plain localCheckpoint
    * preserves origin stats (SPARK-39834) and the per-round self-joins
    * would double the estimate's bit length every round, and convergence is detected by the label SUM
    * reaching a fixpoint (labels only ever decrease, so equal sums ⇒ no
    * label moved — one cheap aggregate per round, no row-level compare).
    *
    * Scale posture: LSH near-dup components are cliques glued by shared
    * members (diameters 2–4 → 2–3 rounds); cosine-threshold graphs from
    * [[graft.vector.Similarity.semanticClusters]] chain much longer
    * (diameter ~20 measured on the sf0.1 testdata → 6 rounds under
    * doubling). maxIters = 20 therefore bounds components of diameter
    * ~2^20; the guard throws rather than returning silently-unmerged
    * clusters. The guard belongs to the distributed loop only.
    *
    * Size rule: the materialized pair set is sized as it lands (rows ×
    * the planner's row width, no extra job). At or under
    * `spark.sql.autoBroadcastJoinThreshold` — the session's bound for
    * "ship it whole to one task", 10 MB by default, ~430k long pairs —
    * the whole fixpoint runs in ONE task instead: union-find with the
    * minimum id as every root, which labels every endpoint with its
    * component's minimum doc_id, exactly the loop's output. A small pair
    * set otherwise pays the job floor of every round (q73's 159 pairs:
    * 22 jobs). Above the threshold, at `-1`, or for ids that are not
    * BIGINT/INT or hold a null, the distributed loop runs.
    */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 20,
                    checkpointDir: Option[String] = None): DataFrame = {
    // None = executor-local lineage cuts (fastest; an executor loss
    // mid-fixpoint is fatal and batch retry re-pays the run); Some(dir) =
    // reliable checkpoints on a real filesystem, the preemptible-node
    // posture for long fixpoints. Bit-identical output either way
    // (TextSpec-pinned) — where the state lives cannot change what it is.
    val chain = FreshPlan.chain(checkpointDir)
    // Materialize the pair plan BEFORE symmetrizing: `half` is consumed
    // twice by the union, and without the checkpoint the planner must
    // rediscover the shared subtree (exchange reuse saves the re-execution
    // but not the double planning); with it the upstream pair pipeline
    // (shingle → minhash → LSH → verify, the dominant cost) runs exactly
    // once, unconditionally.
    // half is a loop INVARIANT (every round's hook reads it through sym),
    // so it must not enter the cut chain — but its origin plan is the
    // whole pair pipeline, whose multiplied stats must still be stripped.
    val (half, small) = chain.sizedInvariant(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
      fresh = true)
    val idType = half.schema("src").dataType
    // last cut / the one-task result is materialized either way;
    // half/edges are dead
    try {
      if (small && half.schema("dst").dataType == idType &&
          (idType == LongType || idType == IntegerType))
        FreshPlan.checkpointFresh(componentsInOneTask(half), checkpointDir)
      else componentsByRounds(half, chain, maxIters)
    } finally chain.close()
  }

  /** [[dedupClusters]]' small-input path: union-find over `half`'s pairs
    * in one task. Ids are sorted first, so uniting two roots under the
    * smaller INDEX keeps every root at its component's minimum id.
    */
  private def componentsInOneTask(half: DataFrame): DataFrame = {
    val idType = half.schema("src").dataType
    val isLong = idType == LongType
    // the loop's schema: doc_id is an endpoint, cluster_id a min()
    val schema = StructType(Seq(
      StructField("doc_id", idType,
        half.schema("src").nullable || half.schema("dst").nullable),
      StructField("cluster_id", idType, nullable = true)))
    FreshPlan.inOneTask(schema, half) { inputs =>
      val src, dst = Array.newBuilder[Long]
      inputs.head.foreach { r =>
        src += (if (isLong) r.getLong(0) else r.getInt(0).toLong)
        dst += (if (isLong) r.getLong(1) else r.getInt(1).toLong)
      }
      val (a, b) = (src.result(), dst.result())
      val all = a ++ b
      java.util.Arrays.sort(all)
      val ids = all.distinct
      val parent = Array.range(0, ids.length)
      def find(x: Int): Int = {
        var root = x
        while (parent(root) != root) root = parent(root)
        var y = x
        while (parent(y) != root) { val next = parent(y); parent(y) = root; y = next }
        root
      }
      def at(v: Long) = java.util.Arrays.binarySearch(ids, v)
      a.indices.foreach { i =>
        val (ra, rb) = (find(at(a(i))), find(at(b(i))))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      def box(v: Long): Any = if (isLong) v else v.toInt
      ids.indices.iterator.map(i => InternalRow(box(ids(i)), box(ids(find(i)))))
    }
  }

  /** [[dedupClusters]]' distributed loop: hook + compress rounds over the
    * materialized pair set `half`, cutting each round through `chain`.
    */
  private def componentsByRounds(half: DataFrame, chain: FreshPlan.CutChain,
                                 maxIters: Int): DataFrame = {
    def mat(df: DataFrame): DataFrame = chain.invariant(df)
    def cutFresh(df: DataFrame): DataFrame = chain.cut(df)
    val sym = half
      .unionByName(half.select(col("dst").as("src"), col("src").as("dst")))
    // Self-loops fold the "min of self and neighbors" into ONE join + one
    // min-aggregate per hop (no second join back onto the labels). The
    // edge list is NOT deduplicated: min-aggregation is duplicate-
    // invariant, symmetrized doc_a<doc_b pairs cannot collide, and the
    // per-pair self-loop duplicates are bounded by vertex degree — so the
    // whole edge build is narrow (zero shuffles, one map-job checkpoint)
    // instead of paying two distinct exchanges for cosmetics.
    val edges = sym
      .unionByName(sym.select(col("src"), col("src").as("dst")))
      .transform(mat)
    // COMPRESS (pointer jumping): label'(v) = label(label(v)). Every
    // label is a vertex id (labels start as ids and min() preserves
    // that), so the lookup is a |V|-row self-join — cheap next to the
    // edge join. ONE application per round (the classic Shiloach-Vishkin
    // alternation): round 17 measured that the second application never
    // changed the ROUND count on any shipped graph but paid a |V|-row
    // self-join (+2 AQE scheduling jobs) every round — q209 185→151
    // jobs, q189 182→149, walls down ~1-2 s at sf0.1 — and at 100 TB
    // that extra per-round shuffle is pure waste when rounds don't drop.
    // Convergence stays O(log diameter): hook merges at the root, and
    // the unchanged-sum certificate (depth-1 forest + no cross-root
    // edge) is application-count-independent.
    def compress(ls: DataFrame): DataFrame =
      ls.join(ls.select(col("doc_id").as("cluster_id"),
          col("cluster_id").as("_g")), Seq("cluster_id"), "left")
        .select(col("doc_id"),
          coalesce(col("_g"), col("cluster_id")).as("cluster_id"))
    // HOOK at the ROOT, not the leaf: every symmetric edge proposes the
    // other endpoint's root to its own ROOT's label (min-aggregated per
    // root), so whole trees merge in one round. Leaf-hooking — the
    // pre-round-7 form, label'(v) = min over N(v)'s labels — moves
    // information ONE component-hop per round: on the sf0.1
    // cosine-threshold graph (components of 151 vertices, diameter ~20)
    // it needed 21 edge-join rounds, past the maxIters guard; root
    // hooking + compression needs 5 (measured, and matches the
    // Shiloach-Vishkin O(log diameter) bound). At 100 TB the edge join
    // is the dominant cost, so edge-round count is THE scale metric.
    def hook(ls: DataFrame): DataFrame = {
      val prop = sym
        .join(ls.select(col("doc_id").as("src"), col("cluster_id").as("_rs")),
          Seq("src"))
        .join(ls.select(col("doc_id").as("dst"), col("cluster_id").as("_rd")),
          Seq("dst"))
        .filter(col("_rs") =!= col("_rd"))
        .groupBy(col("_rs")).agg(min(col("_rd")).as("_nl"))
      ls.join(prop, ls("cluster_id") === prop("_rs"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("_nl"), col("cluster_id")))
            .as("cluster_id"))
    }
    // Initialization IS the first hook (labels start at doc_id, so the
    // aggregate needs no join at all; the self-loop edges fold v's own
    // id into the min) — one free round.
    var labels = cutFresh(
      edges.groupBy(col("src")).agg(min(col("dst")).as("cluster_id"))
        .withColumnRenamed("src", "doc_id"))
    // Decimal sum: a BIGINT sum of doc ids can overflow long at corpus
    // scale, and a wrapped sum could fake a fixpoint.
    // null sum = zero vertices (an EMPTY pair set — normal for a
    // streaming micro-batch with no internal dups): fold to ZERO so the
    // loop certifies the trivial fixpoint instead of NPE-ing.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("cluster_id").cast("decimal(38,0)")))
        .head().getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var prev = labelSum(labels)
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // Labels only decrease under both compress and hook, so an
      // unchanged sum certifies a full fixpoint: depth-1 forest (compress
      // moved nothing) AND no cross-root edge (hook proposed nothing) —
      // i.e. every label is its component's minimum vertex id.
      val next = cutFresh(hook(compress(labels)))
      val cur = labelSum(next)
      converged = cur.compareTo(prev) == 0
      prev = cur
      labels = next
      iters += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dedupClusters did not converge in $maxIters rounds — component " +
        "diameter exceeds the bound; raise maxIters")
    labels
  }

  /** The fixpoint input for [[dedupClustersResume]]: star edges of only
    * the AFFECTED clusters of `state` (those containing an endpoint of a
    * new pair) unioned with the new pairs themselves. Exposed for the
    * incrementality spec pin — untouched clusters must never appear here.
    */
  private[graft] def resumeSubgraph(state: DataFrame,
                                   newPairs: DataFrame): DataFrame = {
    val np = newPairs.select(col("doc_a"), col("doc_b"))
    subgraphOf(state, np, affectedClusterIds(state, np))
  }

  /** Cluster ids of `state` containing an endpoint of a new pair — the
    * set whose size (bounded by the delta's degree, not the corpus) gates
    * every resume join.
    */
  private def affectedClusterIds(state: DataFrame, np: DataFrame): DataFrame =
    state.join(np.select(col("doc_a").as("doc_id"))
        .unionByName(np.select(col("doc_b").as("doc_id"))).distinct(),
        Seq("doc_id"))
      .select(col("cluster_id")).distinct()

  private def subgraphOf(state: DataFrame, np: DataFrame,
                         affectedClusters: DataFrame): DataFrame = {
    // Star edges re-create each affected component from its depth-1 label
    // forest: |members| rows per cluster, not the original pair set — the
    // persisted labeling IS the compressed edge history.
    val stars = state.join(affectedClusters, Seq("cluster_id"), "left_semi")
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("cluster_id").as("doc_a"), col("doc_id").as("doc_b"))
    stars.unionByName(np)
  }

  /** Incremental connected-components maintenance — merge a delta's
    * near-dup pairs (e.g. from [[nearDupAgainstIndex]]) into a PERSISTED
    * (doc_id, cluster_id) labeling without recomputing untouched
    * clusters. Contract: if `labels0` is a valid [[dedupClusters]] output
    * for some pair set P (cluster_id = component-minimum doc_id, the
    * representative row doc_id = cluster_id present per cluster), the
    * result is bit-identical to `dedupClusters(P ∪ newPairs)`.
    *
    * Scale shape — the 100 TB daily-cluster-refresh pattern: the dominant
    * pair-generation cost is paid only on the delta; the fixpoint runs on
    * the affected subgraph only (star edges are depth-1, so old clusters
    * contribute O(1) rounds and the round count is O(log delta-diameter));
    * every untouched cluster passes through with ZERO recompute via one
    * anti-join on the (delta-degree-bounded) affected-cluster-id set.
    * Both state invariants are validated up front with `isEmpty` probes
    * (a corrupt label store must fail loudly, not silently mis-merge —
    * the [[graft.ops.Graph.pageRankResume]] discipline).
    */
  def dedupClustersResume(labels0: DataFrame, newPairs: DataFrame,
                          maxIters: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame = {
    val (untouched, relabeled) =
      resumeParts(labels0, newPairs, maxIters, checkpointDir)
    untouched.unionByName(relabeled)
  }

  /** The CHANGED rows of [[dedupClustersResume]] — labels for
    * affected-cluster members and new vertices ONLY (untouched clusters
    * are omitted). This is the per-batch write unit of a log-structured
    * label store: each published version holds one delta, and the
    * current labeling is the latest version per doc_id — so the write
    * cost per merge is O(affected), not O(every cluster ever).
    */
  def dedupClustersDelta(labels0: DataFrame, newPairs: DataFrame,
                         maxIters: Int = 20,
                         checkpointDir: Option[String] = None): DataFrame =
    resumeParts(labels0, newPairs, maxIters, checkpointDir)._2

  private def resumeParts(labels0: DataFrame, newPairs: DataFrame,
                          maxIters: Int,
                          checkpointDir: Option[String] = None)
      : (DataFrame, DataFrame) = {
    val state = validatedLabeling(labels0, "dedupClustersResume", checkpointDir)
    val np = FreshPlan.materialize(
      newPairs.select(col("doc_a"), col("doc_b")), checkpointDir)
    val affectedClusters =
      FreshPlan.materialize(affectedClusterIds(state, np), checkpointDir)
    val relabeled = dedupClusters(subgraphOf(state, np, affectedClusters),
      maxIters, checkpointDir)
    FreshPlan.release(np) // read only by the now-materialized frames above
    val untouched = state.join(affectedClusters, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
    (untouched, relabeled)
  }

  /** `labels0` checkpointed and loudly validated as a [[dedupClusters]]
    * output (component-minimum labels, representative row per cluster) —
    * the state-invariant gate every maintenance operator runs first (a
    * corrupt label store must fail, not silently mis-merge).
    */
  private def validatedLabeling(labels0: DataFrame, op: String,
                                checkpointDir: Option[String] = None)
      : DataFrame = {
    // freshIfMaterialized: an inline composition (dedupClusters output
    // fed straight in, round 21) skips the redundant label-store copy;
    // a parquet-read label store still materializes exactly as before.
    // The invariant VALIDATION below runs unconditionally either way.
    val state = FreshPlan.freshIfMaterialized(
      labels0.select(col("doc_id"), col("cluster_id")), checkpointDir)
    // Both invariants in ONE per-cluster aggregate (round-17 fusion: the
    // two isEmpty probes were separate fail-loud scans — ~4 AQE jobs of
    // pure scheduling floor on every resume/forget). A cluster violates
    // iff any member has cluster_id > doc_id (labels must be component
    // minima) or no member has doc_id = cluster_id (missing
    // representative); zero violating clusters ⟺ exactly the old
    // empty-probe conditions, same failure coverage, distinct messages.
    val viol = state.groupBy(col("cluster_id")).agg(
        max(when(col("cluster_id") > col("doc_id"), 1L).otherwise(0L))
          .as("_above"),
        max(when(col("cluster_id") === col("doc_id"), 1L).otherwise(0L))
          .as("_rep"))
      .agg(coalesce(sum(col("_above")), lit(0L)),
        coalesce(sum(lit(1L) - col("_rep")), lit(0L)))
      .head()
    require(viol.getLong(0) == 0,
      s"$op: labels0 is not a dedupClusters labeling — " +
        "found cluster_id > doc_id (labels must be component minima)")
    require(viol.getLong(1) == 0,
      s"$op: labels0 is missing a representative row " +
        "(doc_id = cluster_id) for some cluster — corrupt label store")
    state
  }

  /** The DELETE half of cluster maintenance — remove `doomed` docs from
    * a PERSISTED labeling (takedowns, erasure requests) without
    * recomputing untouched clusters. Contract: if `labels0` is the valid
    * [[dedupClusters]] clustering of `corpus` under `pairsOf`, the result
    * is bit-identical to `dedupClusters(pairsOf(corpus − doomed))` — a
    * doc that loses its last duplicate DROPS OUT of the labeling (cold
    * parity), and a cluster whose bridge doc is deleted SPLITS.
    *
    * Why this cannot be a label pass-through: the store keeps only the
    * depth-1 star forest, not the pair graph, so deleting a member —
    * above all the representative at a star's center — says nothing
    * about which survivors remain transitively connected. Connectivity
    * among affected survivors is therefore RE-DERIVED from content:
    * `pairsOf` (the SAME generator that built the state — banding is
    * pairwise-deterministic, so pairs never cross valid cluster
    * boundaries and affected-only recompute is exact) runs over the
    * surviving members of affected clusters only. Scale shape: the
    * recompute is bounded by the doomed set's cluster sizes, never the
    * corpus; untouched clusters pass through via one anti-join on the
    * (doomed-degree-bounded) affected-cluster-id set; doomed ids never
    * clustered are a no-op. The [[dedupClustersResume]] /
    * [[graft.vector.Similarity.deleteFromIvfIndex]] discipline, closing
    * the maintenance triangle: build (q73), merge (q188), forget.
    */
  def dedupClustersForget(labels0: DataFrame, corpus: DataFrame,
                          doomed: DataFrame,
                          pairsOf: DataFrame => DataFrame,
                          maxIters: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame = {
    val (untouched, relabeled, _) =
      forgetParts(labels0, corpus, doomed, pairsOf, maxIters, checkpointDir)
    untouched.unionByName(relabeled)
  }

  /** The CHANGED rows of [[dedupClustersForget]] — the write unit of a
    * log-structured label store's takedown: new labels for affected
    * survivors that stay clustered, plus TOMBSTONES (null cluster_id)
    * for every affected member that leaves the labeling (the doomed
    * docs and any survivor that lost its last duplicate). Untouched
    * clusters are omitted, so the version write is O(affected). A
    * latest-per-doc reader drops tombstoned docs
    * ([[graft.streaming.CorpusStream.readClusterLabels]]).
    */
  def dedupClustersForgetDelta(labels0: DataFrame, corpus: DataFrame,
                               doomed: DataFrame,
                               pairsOf: DataFrame => DataFrame,
                               maxIters: Int = 20,
                               checkpointDir: Option[String] = None)
      : DataFrame = {
    val (_, relabeled, affectedState) =
      forgetParts(labels0, corpus, doomed, pairsOf, maxIters, checkpointDir)
    val kept = FreshPlan.materialize(relabeled, checkpointDir)
    val gone = affectedState
      .join(kept.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(null).cast("long").as("cluster_id"))
    kept.unionByName(gone)
  }

  private def forgetParts(labels0: DataFrame, corpus: DataFrame,
                          doomed: DataFrame,
                          pairsOf: DataFrame => DataFrame, maxIters: Int,
                          checkpointDir: Option[String] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val state = validatedLabeling(labels0, "dedupClustersForget", checkpointDir)
    val dIds = FreshPlan.materialize(
      doomed.select(col("doc_id")).distinct(), checkpointDir)
    val affected = FreshPlan.materialize(state.join(dIds, Seq("doc_id"))
      .select(col("cluster_id")).distinct(), checkpointDir)
    val untouched = state.join(affected, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
    val affectedState = state.join(affected, Seq("cluster_id"), "left_semi")
    val survivorIds = affectedState
      .join(dIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    val relabeled = dedupClusters(
      pairsOf(corpus.join(survivorIds, Seq("doc_id"), "left_semi")),
      maxIters, checkpointDir)
    FreshPlan.release(dIds) // read only by the now-materialized frames above
    (untouched, relabeled, affectedState)
  }

  /** The corpus minus every non-representative member of each near-dup
    * component of `pairs` (one survivor — the min doc_id — per transitive
    * duplicate cluster). The anti-join keys are only the cluster LOSERS,
    * a tiny table relative to the corpus.
    */
  def survivors(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = dedupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Quality-directed survivor selection: the corpus minus every cluster
    * member that is NOT its cluster's best, where "best" is the maximum
    * of `scoreCol` with ties broken to the SMALLEST doc_id
    * (deterministic). [[survivors]] keeps whichever copy has the lowest
    * id — i.e. whichever crawled first; a curation pipeline usually
    * wants the highest-QUALITY copy of a near-dup family (longest,
    * cleanest, least boilerplate), which this selects with the same
    * loser-anti-join scale shape: cluster labels from [[dedupClusters]]
    * cover only clustered docs (a tiny fraction of the corpus), the
    * per-cluster argmax is one aggregate over that label table
    * (max(struct(score, −doc_id)) — a single-pass argmax, no window;
    * the score compares in its NATIVE type, so fractional quality
    * scores rank fully rather than collapsing under an integer cast),
    * and the corpus pays exactly one anti-join against the losers.
    * With a constant score this degenerates to [[survivors]] exactly
    * (ties → min id = the cluster label; spec-pinned).
    */
  def survivorsByScore(docs: DataFrame, pairs: DataFrame,
                       scoreCol: String): DataFrame = {
    val labeled = dedupClusters(pairs)
      .join(docs.select(col("doc_id"), col(scoreCol).as("_s")),
        Seq("doc_id"))
    val keep = labeled.groupBy(col("cluster_id"))
      .agg(max(struct(col("_s"), (-col("doc_id")).as("_negid"))).as("_b"))
      .select(col("cluster_id"), (-col("_b._negid")).as("_keep"))
    val losers = labeled.join(keep, Seq("cluster_id"))
      .filter(col("doc_id") =!= col("_keep"))
      .select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** End-to-end near-dup removal: [[survivors]] of [[nearDupPairs]]. */
  def dedupedCorpus(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    survivors(docs, nearDupPairs(docs, threshold))

  /** SimHash-64 per document (engine-internal hash; no SQL oracle).
    * Per token: xxhash64 → each of the 64 bits votes ±1; the sign vector is
    * the fingerprint, folded by the custom typed [[graft.functions.SimHashAgg]]
    * aggregator (8× faster than the 64-conditional-sums expression form).
    * Candidates = any matching 16-bit quadrant (the standard hamming-LSH
    * trick); verified by bit_count(xor) <= maxHamming.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // PORTABLE 60-bit token hash: the first 15 hex chars of md5 — both
    // engines compute md5 over the token's UTF-8 bytes, so the entire
    // simhash pipeline is DuckDB-expressible (the q119 rule: shared
    // primitives instead of engine-internal xxhash64) and q31 is
    // hash-exact instead of rows-only. 15 hex chars = 2^60-1 max fits
    // signed 64-bit on both engines with no wrap games; simhash bits
    // 60-63 are structurally 0 (the ±1 counter only ever sees 0 there),
    // which costs nothing — quadrant 3 still carries 12 varying bits
    // and XOR/hamming ignores constant-equal bits.
    docs
      .withColumn("_tok", explode(split(col("text"), "\\s+")))
      .select(col("doc_id"),
        conv(substring(md5(col("_tok")), 1, 15), 16, 10)
          .cast("long").as("_h"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.SimHashAgg.toColumn.name("simhash"))
      .toDF("doc_id", "simhash")
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming, candidate-
    * limited by 16-bit quadrant equality (any of the 4 quadrants matching
    * makes a candidate — the standard hamming-LSH trick).
    *
    * Shape: ONE pass over the per-doc simhashes — the union + self-join
    * form consumed the SimHash aggregation subtree 8 times (4 quadrant
    * branches × 2 join sides) and Spark re-executed the tokenize/hash/
    * aggregate chain for each (the same multiply-consumed-subtree trap
    * [[lshCandidates]] had). Here the quadrants posexplode off each row,
    * one shuffle buckets (quad_id, quad), and the pairs expand
    * in-partition with the hamming computed in place.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 8): DataFrame = {
    simhash(docs)
      .select(col("doc_id"), col("simhash"), posexplode(array(
        (0 until 4).map(q => expr(s"(simhash >> ${q * 16}) & 65535")): _*)))
      .withColumnsRenamed(Map("pos" -> "quad_id", "col" -> "quad"))
      .groupBy(col("quad_id"), col("quad"))
      .agg(sort_array(collect_set(struct(col("doc_id"), col("simhash"))))
        .as("items"))
      .filter(size(col("items")) > 1)
      .select(pairExpand("items",
        """struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       bit_count(a.simhash ^ b.simhash) AS hamming)""".stripMargin)
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.hamming").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Passage-level (repeated-span) duplicate detection — the substring
    * complement of the document-level dedup family: maximal contiguous
    * token intervals of each document in which EVERY token is covered by
    * some word n-gram occurring in at least `minDocs` DISTINCT documents.
    * Doc-level near-dup misses a license header pasted into a thousand
    * otherwise-unique files; this finds exactly those passages (the
    * repeated-substring dedup of training-data pipelines, at n-gram
    * resolution instead of a suffix array — n is the minimum match
    * length). Output: (doc_id, start_pos, end_pos, n_span_tokens), token
    * positions 1-based inclusive, spans of fewer than `minSpanTokens`
    * tokens dropped.
    *
    * Shape: one corpus scan feeds the position-keyed hash stream —
    * [[graft.functions.WordNgramHashes]] emits each document's n-gram
    * hashes in ONE codegen'd byte walk (the shingle string never exists;
    * the earlier explode + concat_ws + xxhash64(text) chain was the
    * family's dominant bench cost), so the exploded rows are
    * (doc_id, pos, int64) — 8-byte exchanges end to end. The stream's two
    * consumers (the cross-doc df aggregate and the hit probe) each
    * RECOMPUTE it from the scan: with the codegen'd hash walk the
    * recompute costs under 0.2 s at sf0.1 while a persist fill measured
    * 1.1 s of pure cache-write overhead — and at 100 TB caching a
    * corpus-sized frame is exactly the thing an executor's storage memory
    * cannot hold (the round-7 persist also leaked until session end,
    * ADVICE r7). For minDocs = 2 (the passage-dedup default) the hot
    * aggregate is `min(doc_id) ≠ max(doc_id)` — one plain agg, no
    * count-distinct Expand; the general case keeps countDistinct. Hits
    * then chain per document in ONE keyed aggregate
    * ([[chainSpanRanges]]): each doc's hit positions collect into a
    * sorted array and fold to maximal intervals (a new span starts when
    * the position gap exceeds n; token ranges [p, p+n−1] merge by
    * interval UNION) — the earlier lag/sum window chain paid a sort plus
    * a SECOND (doc, span)-keyed exchange for the same answer. The fold's
    * interpreted lambda runs once per HIT (hits are the hot-covered
    * positions — a sliver of the corpus), never per token.
    *
    * Exactness bound: same 64-bit-collision argument as
    * [[graft.text.Corpus.boilerplateNgrams]] — a collision can flag one
    * spurious n-gram; zero collisions on every test corpus (SpanSpec pins
    * bit-identity against a text-keyed build), expected affected rows
    * ~10⁴ of 10¹² at corpus scale.
    */
  def repeatedSpans(docs: DataFrame, n: Int = 3, minDocs: Int = 2,
                    minSpanTokens: Int = 3): DataFrame =
    explodeRanges(spanRangesOf(docs, n, minDocs, minSpanTokens))

  /** The detection pipeline in array form — shared by [[repeatedSpans]]
    * (explodes to the flat table) and [[scrubRepeatedSpans]] (feeds the
    * rebuild directly).
    */
  private def spanRangesOf(docs: DataFrame, n: Int, minDocs: Int,
                           minSpanTokens: Int): DataFrame = {
    require(n >= 1 && minDocs >= 2,
      s"need n >= 1 and minDocs >= 2, got n=$n minDocs=$minDocs")
    val sh = hashedShinglesWithPos(docs, n)
    val hot =
      if (minDocs == 2)
        sh.groupBy(col("_h"))
          .agg(min(col("doc_id")).as("_dmin"), max(col("doc_id")).as("_dmax"))
          .filter(col("_dmin") =!= col("_dmax"))
          .select(col("_h"))
      else
        sh.groupBy(col("_h"))
          .agg(countDistinct(col("doc_id")).as("_df"))
          .filter(col("_df") >= minDocs)
          .select(col("_h"))
    chainSpanRanges(sh.join(hot, Seq("_h"), "left_semi"), n, minSpanTokens)
  }

  /** Chain hit positions (doc_id, pos) into maximal span intervals, one
    * row per doc: (doc_id, _ranges ARRAY<STRUCT<s, e>>), ranges sorted,
    * disjoint, length-filtered — `s`/`e` are 1-based inclusive TOKEN
    * bounds (e = last hit + n − 1). Shared by the batch
    * ([[repeatedSpans]]) and incremental
    * ([[graft.text.Corpus.spansAgainstHotlist]]) detectors; the rebuild
    * ([[scrubRanges]]) consumes the array form directly, so the
    * explode → re-collect round trip only happens when a caller wants
    * the flat span TABLE.
    */
  private[text] def chainSpanRanges(hits: DataFrame, n: Int,
                                    minSpanTokens: Int): DataFrame = {
    val fold =
      s"""filter(
         |  aggregate(_ps,
         |    named_struct('s', CAST(NULL AS BIGINT), 'p', CAST(NULL AS BIGINT),
         |      'acc', CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT>>)),
         |    (st, x) -> CASE
         |      WHEN st.s IS NULL THEN named_struct('s', x, 'p', x, 'acc', st.acc)
         |      WHEN x <= st.p + $n THEN named_struct('s', st.s, 'p', x, 'acc', st.acc)
         |      ELSE named_struct('s', x, 'p', x, 'acc', concat(st.acc,
         |        array(named_struct('s', st.s, 'e', st.p + ${n - 1})))) END,
         |    st -> CASE WHEN st.s IS NULL THEN st.acc
         |      ELSE concat(st.acc,
         |        array(named_struct('s', st.s, 'e', st.p + ${n - 1}))) END),
         |  r -> r.e - r.s + 1 >= $minSpanTokens)""".stripMargin
    hits.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("_ps"))
      .select(col("doc_id"), expr(fold).as("_ranges"))
      .filter(size(col("_ranges")) > 0)
  }

  /** Flatten [[chainSpanRanges]] output to the public span table shape. */
  private[text] def explodeRanges(ranges: DataFrame): DataFrame =
    ranges.select(col("doc_id"), explode(col("_ranges")).as("_r"))
      .select(col("doc_id"), col("_r.s").as("start_pos"),
        col("_r.e").as("end_pos"),
        (col("_r.e") - col("_r.s") + 1).as("n_span_tokens"))

  /** Passage-level cleaning: each document with every token covered by a
    * cross-doc-repeated n-gram ([[repeatedSpans]] with no span-length
    * floor) REMOVED, the text rebuilt from the surviving tokens —
    * (doc_id, n_tokens, n_removed, clean_text). Documents with nothing
    * to remove pass through with n_removed = 0; whitespace is normalized
    * to single spaces on ALL rows (the output is token-joined, the same
    * normalization the tokenizer applies anyway).
    *
    * Shape: the span table aggregates to one (doc_id, ranges[]) row per
    * AFFECTED document — a table bounded by the affected-doc count, far
    * under the corpus — and 1:1-joins back to the corpus on doc_id. The
    * rebuild works on the GAPS between spans: the sorted disjoint ranges
    * fold into kept-intervals, each sliced out of the token array whole —
    * interpreted-lambda evaluations per document scale with the SPAN
    * count (a handful), not the token count (a per-token position-probe
    * HOF was measured 2.7 s slower at sf0.1 — lambdas are interpreted,
    * the q30-note pitfall, so the rebuild keeps them off the per-token
    * path).
    */
  def scrubRepeatedSpans(docs: DataFrame, n: Int = 3,
                         minDocs: Int = 2): DataFrame =
    scrubRanges(docs, spanRangesOf(docs, n, minDocs, minSpanTokens = n))

  /** The rebuild against per-doc sorted disjoint ranges
    * (doc_id, _ranges ARRAY<STRUCT<s, e>>) — [[chainSpanRanges]]' shape.
    */
  private[text] def scrubRanges(docs: DataFrame, ranges: DataFrame): DataFrame = {
    // kept-intervals = [prev_end+1, next_start-1] between consecutive
    // spans, plus the tail; zero-length gaps (adjacent spans) slice to
    // empty via greatest(0, ...)
    val keptToks =
      """flatten(transform(
        |  aggregate(_ranges,
        |    named_struct('p', CAST(1 AS BIGINT), 'ks', CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT>>)),
        |    (acc, r) -> named_struct('p', r.e + 1,
        |      'ks', concat(acc.ks, array(named_struct('s', acc.p, 'e', r.s - 1)))),
        |    acc -> concat(acc.ks,
        |      array(named_struct('s', acc.p, 'e', CAST(size(_toks) AS BIGINT))))),
        |  g -> slice(_toks, CAST(g.s AS INT), CAST(greatest(0, g.e - g.s + 1) AS INT))))""".stripMargin
    docs.join(ranges, Seq("doc_id"), "left")
      .withColumn("_toks", split(col("text"), "\\s+"))
      .withColumn("_kept",
        when(col("_ranges").isNull, col("_toks")).otherwise(expr(keptToks)))
      .select(col("doc_id"),
        size(col("_toks")).cast("long").as("n_tokens"),
        (size(col("_toks")) - size(col("_kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("_kept")).as("clean_text"))
  }
}
