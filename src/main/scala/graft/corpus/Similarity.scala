package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Embedding similarity search (SURVEY.md §7 phase F): brute-force cosine
 * top-k as the exact baseline, and an inverted-file (IVF) variant that
 * probes only the query's coarse partition — the shape that survives
 * 100 TB (per-bucket work instead of a full cross join).
 *
 * Float discipline for the DuckDB oracle: every element is cast
 * float→double BEFORE any arithmetic, and all sums are sequential left
 * folds in list order (`aggregate` here, `list_reduce` there), so the
 * IEEE results are bit-identical across engines.
 */
object Similarity {

  /** Sequential left-fold dot product of two float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), _ + _)

  /** L2 norm via the same fold. */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), _ + _))

  /** Cosine similarity rounded to 6 dp (rounding decouples the compare
    * from last-ulp division noise). NULL — not NaN — on a zero-norm
    * side: 0/0 is NaN, and Spark orders NaN ABOVE every real number, so
    * an unguarded failed-embed (all-zero) vector would pass every
    * `>= threshold` filter and steal rank 1 of every descending top-k;
    * NULL instead fails filters and sorts last under `desc`. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, round(dot(a, b) / d, 6))
  }

  /** Hot-path dot/norm as native codegen'd Catalyst expressions
    * ([[VectorExpr]]): identical IEEE result to the HOF fold (sequential
    * left-to-right double accumulation over the same element order — see
    * SimilaritySpec's cross-check), but the pair scan stays inside
    * whole-stage codegen with primitive float access, no per-call
    * Tungsten→Seq conversion. */
  private def dotUdf(a: Column, b: Column): Column = VectorExpr.dotF(a, b)
  private def normUdf(a: Column): Column = VectorExpr.normF(a)

  /** cosine from a precomputed-norm pair: round(dot/(n1*n2), 6); NULL
    * on a zero-norm side (same NaN trap as [[cosine]] — every
    * exact-cosine path in this file flows through one of the two, so
    * the guard lives exactly twice). */
  private def cosineFast(e1: Column, n1: Column, e2: Column, n2: Column): Column =
    when(n1 > 0 && n2 > 0, round(dotUdf(e1, e2) / (n1 * n2), 6))

  /** The names one side of a pair scan gives a vector's id, vector and
    * norm, so both sides of a self-join can come from one frame. */
  private final case class Side(id: String, vec: String, nrm: String) {
    /** `df`'s (id, vector, norm) under this side's names, with `extra`
      * columns between the vector and its norm. */
    def of(df: DataFrame, idCol: String, vecCol: String, extra: Column*): DataFrame =
      df.select((Seq(col(idCol).as(id), col(vecCol).as(vec)) ++ extra :+
        normUdf(col(vecCol)).as(nrm)): _*)
    def cosine(other: Side): Column =
      cosineFast(col(vec), col(nrm), col(other.vec), col(other.nrm))
  }
  private val QuerySide = Side("query_id", "qvec", "qnrm")
  private val NeighborSide = Side("neighbor_id", "nvec", "nnrm")
  private val LeftSide = Side("v1", "e1", "nrm1")
  private val RightSide = Side("v2", "e2", "nrm2")

  /** The query set of an ANN leg: `queryRows` when the caller
    * pre-materialized it (several legs over the SAME query set — one
    * corpus scan for the query side instead of one per leg; it must be
    * exactly the rows of `emb.filter(queryPred)`), else that filter.
    * `queryPred` filters the FULL-column frame, so a metadata-column
    * predicate works on every path. */
  private def querySet(emb: DataFrame, queryPred: Column,
                       queryRows: Option[DataFrame]): DataFrame =
    queryRows.getOrElse(emb.filter(queryPred))

  /** All pairs (v1 < v2) with cosine ≥ threshold. Quadratic by intent —
    * the exact-verification baseline. At scale, use [[ivfTopK]] or the
    * LSH candidates instead. */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                   threshold: Double): DataFrame = {
    val fanned = Dedup.fanout(emb)
    LeftSide.of(fanned, idCol, vecCol)
      .join(RightSide.of(fanned, idCol, vecCol), col("v1") < col("v2"))
      .select(col("v1"), col("v2"), LeftSide.cosine(RightSide).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * prune near-duplicate EMBEDDINGS within coarse clusters — the
    * cluster-then-prune shape that makes semantic dedup tractable at
    * corpus scale, because the quadratic pairwise term is bounded by the
    * cluster size, not the corpus size (grow the cluster count with the
    * corpus to hold that bound). `bucketCol` is the coarse cluster id —
    * a [[kmeansAssign]] output, or any precomputed partition label.
    * Survivor rule: keep a vector iff no LOWER-id vector in the same
    * cluster has cosine ≥ threshold (deterministic, order-free min-id
    * canonicalization — one equi-join + anti-join, no iterative
    * clustering needed). */
  def semDedupSurvivors(emb: DataFrame, idCol: String, vecCol: String,
                        bucketCol: String, threshold: Double): DataFrame = {
    // norms feed both self-join sides — same materialize-once pattern as
    // Dedup.jaccardPairs postings
    val withNorm = Dedup.fanout(emb)
      .select(col(idCol), col(bucketCol), col(vecCol), normUdf(col(vecCol)).as("nrm"))
      .localCheckpoint(false)
    val a = withNorm.select(col(bucketCol).as("b"), col(idCol).as("v1"),
      col(vecCol).as("e1"), col("nrm").as("n1"))
    val b = withNorm.select(col(bucketCol).as("b"), col(idCol).as("v2"),
      col(vecCol).as("e2"), col("nrm").as("n2"))
    val drops = a.join(b, Seq("b")).filter(col("v1") < col("v2"))
      .filter(cosineFast(col("e1"), col("n1"), col("e2"), col("n2")) >= threshold)
      .select(col("v2").as(idCol)).distinct()
    emb.join(drops, Seq(idCol), "left_anti")
  }

  /** Embedding-level benchmark decontamination — the semantic twin of
    * [[Dedup.contamination]]'s n-gram check: flag corpus vectors whose
    * cosine similarity to ANY eval-set vector reaches `threshold`.
    * Paraphrased eval leakage shares no shingles, so modern
    * decontamination pipelines run BOTH checks.
    *
    * Eval sets are small by nature, so the eval matrix collects to the
    * driver (the same boundedness argument as a broadcast — hard-capped
    * loudly at 2²⁰ vectors) and rides into the corpus scan as a codegen
    * reference object ([[SemContamHitsF]]). The per-vector rollup
    * (hit count + max cosine) happens INSIDE the scan projection — one
    * fused loop per corpus row, no join rows, no aggregation exchange;
    * the corpus streams exactly once. A broadcast nested-loop join
    * formulation measured 49.8 s at the 500k-doc probe purely on join-row
    * materialization; this shape is the same arithmetic without the rows.
    * Returns (id, n_eval_hits, max_cos) for corpus vectors with ≥1 hit. */
  def semanticContamination(corpus: DataFrame, eval_ : DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    // cap check BEFORE the collect — a require after it cannot prevent
    // the driver OOM it exists for; the count is an eval-set-side scan
    val evalVecs = eval_.select(col(vecCol))
      .filter(col(vecCol).isNotNull).localCheckpoint(false)
    val nEval = evalVecs.count()
    require(nEval <= (1 << 20),
      s"eval set has $nEval vectors — beyond the 2^20 " +
        "driver-resident cap; shard the eval set or use the LSH candidates")
    val evalRows = evalVecs.collect()
    val evs: Array[Array[Float]] =
      evalRows.map(_.getSeq[Float](0).toArray)
    Dedup.fanout(corpus)
      .select(col(idCol),
        VectorExpr.semContamHitsF(col(vecCol), evs, threshold).as("s"))
      .filter(col("s.n_eval_hits") > 0)
      .select(col(idCol), col("s.n_eval_hits").as("n_eval_hits"),
        col("s.max_cos").as("max_cos"))
  }

  /** Top principal direction of the embedding second-moment (Gram)
    * matrix Σ xxᵀ — the dominant direction of the data (the top right
    * singular vector of the stacked embedding matrix): the
    * linear-algebra census behind drift detection and anisotropy checks
    * ("is one direction eating the embedding space?").
    *
    * Entirely fixed-point so the DuckDB oracle replays it bit-for-bit:
    * components quantize to `qScale` units, the Gram accumulation is an
    * integer sum at (i, j) grain (the DISTRIBUTED part — a double
    * posexplode with map-side combine, so the shuffle carries dim²
    * partial rows per partition, never the corpus), and the power
    * iteration runs on the collected dim×dim matrix (always
    * driver-sized; dim is a model constant) with truncating-division
    * rescaling — Spark `div` and DuckDB `//` both truncate toward zero,
    * verified on negatives. Overflow envelope: Gram entries are bounded
    * by n·qScale² (< 2⁶³ up to ~10⁹ vectors at the default scale; lower
    * `qScale` beyond), and the matrix pre-scales to 2³⁰ before matvecs.
    * Sign is fixed by the deterministic all-ones start vector.
    * Returns (dim, loading_fp). */
  def principalDirection(emb: DataFrame, vecCol: String,
                         qScale: Long = 1L << 20, pScale: Long = 1L << 20,
                         iters: Int = 10): DataFrame = {
    val spark = emb.sparkSession
    val q = Dedup.fanout(emb).select(
      transform(col(vecCol),
        x => round(x.cast("double") * qScale).cast("long")).as("q"))
    val gramRows = q
      .select(posexplode(col("q")).as(Seq("i", "qi")), col("q"))
      .select(col("i"), col("qi"), posexplode(col("q")).as(Seq("j", "qj")))
      .groupBy(col("i"), col("j")).agg(sum(col("qi") * col("qj")).as("sxy"))
      .collect() // dim² rows — model-constant-sized, never corpus rows
    require(gramRows.nonEmpty,
      "principalDirection over an empty (or empty-vector) embedding frame")
    val dim = gramRows.map(_.getInt(0)).max + 1
    val big = Array.ofDim[Long](dim, dim)
    gramRows.foreach(r => big(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    val maxAbs = big.flatten.map(math.abs).max
    val mdiv = math.max(1L, maxAbs / (1L << 30) + 1L)
    val m = big.map(_.map(_ / mdiv))
    var v = Array.fill(dim)(pScale)
    for (_ <- 1 to iters) {
      val u = Array.tabulate(dim)(i =>
        (0 until dim).foldLeft(0L)((acc, j) => acc + m(i)(j) * v(j)))
      val d = u.map(math.abs).max / pScale + 1L
      v = u.map(_ / d)
    }
    import spark.implicits._
    v.indices.map(i => (i.toLong, v(i))).toDF("dim", "loading_fp")
  }

  /** Exact brute-force top-k neighbors for a query subset. The query side
    * is broadcast (it is small by construction), so the big side streams
    * once with no shuffle before the per-query top-k. Delegates to
    * [[filteredTopK]] with an always-true corpus predicate so the
    * scoring/tie-break/ranking tail exists exactly once. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int,
                     queryRows: Option[DataFrame] = None): DataFrame =
    filteredTopK(emb, idCol, vecCol, queryPred, lit(true), k, queryRows)

  /** Metadata-filtered ANN — the retrieval pattern where a query carries
    * a structured predicate ("only docs with license X / label Y")
    * alongside the vector. The filter applies BEFORE scoring (pre-filter):
    * post-filtering a plain top-k under-fills k whenever the predicate
    * removes ranked neighbors, and silently changes recall. At 100 TB the
    * predicate prunes the corpus scan itself (partition/row-group
    * pruning on the metadata column) — only matching vectors are ever
    * scored or shuffled; the query side broadcasts exactly as in
    * [[bruteForceTopK]]. */
  def filteredTopK(emb: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, corpusPred: Column, k: Int,
                   queryRows: Option[DataFrame] = None): DataFrame = {
    val queries = QuerySide.of(querySet(emb, queryPred, queryRows), idCol, vecCol)
    val scored = NeighborSide.of(Dedup.fanout(emb.filter(corpusPred)), idCol, vecCol)
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", QuerySide.cosine(NeighborSide))
    rankTopK(scored, "cos_sim", k)
  }

  /** The shared ranking tail of every ANN path, through
    * [[graft.plans.TopK.ranked]]: heap-prune to the k best rows per
    * query (partial per-partition heaps — the exchange carries at most
    * |queries|·k rows per partition instead of the whole
    * queries×candidates grain, which a rank window would shuffle AND
    * sort), then rank the bounded survivor set with a window that
    * reuses the heap's key clustering (no second exchange). Identical
    * rows and ranks to the direct rank-window-≤-k form — one
    * (score desc, neighbor_id) order feeds both, so the null placement
    * agrees too — which is what keeps every oracle row hash-stable. Memory contract: the
    * heap holds |queries-in-partition|·k id+score rows (vectors are
    * projected away first); every caller broadcasts its query set, so
    * that product is bounded by construction. */
  private def rankTopK(scored: DataFrame, scoreCol: String, k: Int): DataFrame =
    graft.plans.TopK.ranked(
        scored.select(col("query_id"), col("neighbor_id"), col(scoreCol)),
        Seq("query_id"), Seq(scoreCol -> true, "neighbor_id" -> false), k, "rank")
      .select("query_id", "rank", "neighbor_id", scoreCol)

  /** Deterministic pseudo-random hyperplanes for sign-random-projection
    * LSH: component (p,d) is derived from md5("p|d") mapped into [-1, 1).
    * Generated ONCE on the driver and inlined as plan literals — the
    * DuckDB oracle inlines the same constants, so no cross-engine hash
    * agreement is needed at query time. */
  def srpPlanes(numPlanes: Int, dims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes, dims) { (p, d) =>
      md.reset()
      val h = md.digest(s"$p|$d".getBytes("UTF-8"))
      val be = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      (be.toDouble / 2147483648.0) - 1.0 // [0,2^32) → [-1,1)
    }
  }

  /** SRP-LSH bucket id: bit p = sign of dot(vec, plane_p). Vectors whose
    * buckets collide are near-dup candidates; with `numPlanes` bits the
    * candidate set shrinks ~2^planes-fold — the LSH "scale path" next to
    * the exact [[nearDupPairs]] baseline. Recall is tunable via plane
    * count (fewer planes = higher recall, more candidates). Native
    * whole-bucket codegen kernel ([[VectorExpr.srpBucketF]]) — the HOF
    * form it replaced lives on as [[srpBucketHof]] for the
    * three-way-identity spec. */
  def srpBucket(vec: Column, planes: Array[Array[Double]]): Column =
    VectorExpr.srpBucketF(vec, planes)

  /** Interpreted HOF twin of [[srpBucket]] (zip_with + aggregate fold,
    * the shape the DuckDB oracle mirrors with list_reduce) — kept as
    * the reference implementation the native kernel is spec-checked
    * against. */
  private[graft] def srpBucketHof(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val dotP = aggregate(
        zip_with(vec, typedlit(plane.toSeq), (x, h) => x.cast("double") * h),
        lit(0.0), _ + _)
      when(dotP >= 0.0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Multi-table SRP-LSH candidate pairs: `planes` split into
    * `planes.length / planesPerTable` independent hash tables of
    * `planesPerTable` bits each (the standard recall lever — a true
    * near-dup only needs ONE table to agree on all bits). Candidates =
    * same (table, bucket); returns the distinct (v1 < v2) id pairs.
    * Shuffles are keyed by (table, bucket) — never an all-pairs scan.
    * The one candidate stage of [[srpNearDupPairs]] and [[knnGraph]].
    *
    * SIZING RULE (the scale knob that keeps this linear): expected
    * bucket occupancy is n / 2^planesPerTable and candidate volume per
    * table is Σ_buckets (occupancy choose 2) ≈ n² / 2^(planesPerTable+1)
    * — so planesPerTable must grow like log2(n): measured at 200 k
    * vectors, the fixture's 4-bit tables (16 buckets, 12.5 k/bucket,
    * ~10¹⁰ candidate pairs) ran past 7 minutes while 16-bit tables
    * (same recall lever via 4 tables) finish in seconds. Same argument
    * as [[Dedup.simhashDefaultBits]]'s 30-bit segments. The
    * `dedup_embedding_lsh` and `knn_graph` QUERIES keep 4-bit tables
    * because their planes are inlined as literals in BOTH engines and
    * the fixture is 2 k vectors; production callers size planes from
    * their corpus. */
  private def srpCandidates(emb: DataFrame, idCol: String, vecCol: String,
                            planes: Array[Array[Double]],
                            planesPerTable: Int): DataFrame = {
    // refuse bad plane sizing loudly: planes.length < planesPerTable
    // would make numTables 0 — an EMPTY result read as "no near-dups"
    // (and an empty kNN graph artifact that would poison every
    // downstream triangle/LPA/modularity consumer silently); a
    // non-multiple would silently discard trailing planes and lower
    // recall with no warning
    require(planes.nonEmpty && planesPerTable >= 1 &&
        planes.length % planesPerTable == 0,
      s"planes (${planes.length}) must be a positive multiple of " +
        s"planesPerTable ($planesPerTable)")
    val numTables = planes.length / planesPerTable
    val tableBuckets = (0 until numTables).map { t =>
      val sub = planes.slice(t * planesPerTable, (t + 1) * planesPerTable)
      struct(lit(t).as("t"), srpBucket(col(vecCol), sub).as("bucket"))
    }
    val withB = Dedup.fanout(emb)
      .select(col(idCol), explode(array(tableBuckets: _*)).as("tb"))
      .select(col(idCol), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    withB.select(col(idCol).as("v1"), col("t"), col("bucket"))
      .join(withB.select(col(idCol).as("v2"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .filter(col("v1") < col("v2"))
      .select("v1", "v2").distinct()
  }

  /** Exact verification of (v1, v2) id `pairs`: both vectors joined back
    * by id, scored ONCE per pair with [[cosineFast]] — (v1, v2, cos_sim). */
  private def scorePairs(pairs: DataFrame, emb: DataFrame, idCol: String,
                         vecCol: String): DataFrame = {
    val vecs = Dedup.fanout(emb)
    pairs.join(LeftSide.of(vecs, idCol, vecCol), "v1")
      .join(RightSide.of(vecs, idCol, vecCol), "v2")
      .select(col("v1"), col("v2"), LeftSide.cosine(RightSide).as("cos_sim"))
  }

  /** Multi-table SRP-LSH near-dup pairs: the [[srpCandidates]] verified
    * with exact cosine ≥ threshold — the LSH "scale path" next to the
    * exact [[nearDupPairs]] baseline. */
  def srpNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                      planes: Array[Array[Double]], planesPerTable: Int,
                      threshold: Double): DataFrame =
    scorePairs(srpCandidates(emb, idCol, vecCol, planes, planesPerTable),
        emb, idCol, vecCol)
      .filter(col("cos_sim") >= threshold)

  /** k-NN graph over ALL vectors — every vector gets its top-k
    * highest-cosine neighbors, the input artifact for graph-based
    * semantic dedup, diversity sampling, and label propagation. Unlike
    * the ann_topk_* family (a small QUERY SAMPLE against the corpus,
    * broadcastable), the all-nodes graph cannot broadcast either side;
    * candidates instead come from [[srpCandidates]] (shuffles keyed by
    * (table, bucket), never an all-pairs scan), cosine is computed ONCE
    * per undirected candidate pair, both directions are unioned, and
    * per-node top-k runs through [[graft.plans.TopK.ranked]]'s native
    * partial/final heaps — at most k rows per node per partition reach
    * the exchange and nothing global-sorts. Recall is candidate-bounded
    * (a true neighbor sharing no bucket is unseen); the levers are table
    * count (recall) and planesPerTable ~ log2(n) (bucket occupancy — see
    * the sizing rule on [[srpCandidates]]). */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
               planes: Array[Array[Double]], planesPerTable: Int,
               k: Int): DataFrame = {
    val scored = scorePairs(
      srpCandidates(emb, idCol, vecCol, planes, planesPerTable), emb, idCol, vecCol)
    val directed = scored
      .select(col("v1").as("vec_id"), col("v2").as("neighbor_id"), col("cos_sim"))
      .unionAll(scored
        .select(col("v2").as("vec_id"), col("v1").as("neighbor_id"), col("cos_sim")))
    graft.plans.TopK.ranked(directed, Seq("vec_id"),
        Seq("cos_sim" -> true, "neighbor_id" -> false), k, "rank")
      .select("vec_id", "rank", "neighbor_id", "cos_sim")
  }

  /** SQ8 scalar quantization: per-vector symmetric int8 codes,
    * code_i = floor(x_i * 127 / max|x| + 0.5). The 100 TB story: 4×
    * smaller vectors = 4× less scan/shuffle/broadcast volume for a small
    * recall hit, and the candidate-scoring dot products become EXACT
    * integer arithmetic (no IEEE fold-order concerns anywhere until the
    * final cosine division). floor(x + 0.5) instead of round() because
    * its half-handling is identical in every engine. Scale cancels in
    * cosine, so codes alone suffice downstream. */
  def sq8Codes(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol),
      // bind the scale ONCE as an outer lambda variable — a projected
      // alias would be re-inlined into the inner lambda by
      // CollapseProject and the O(d) array_max would re-run per element.
      // Zero vectors (scale 0) quantize to all-zero codes instead of
      // NaN; downstream scoring filters them (cosine is undefined there).
      element_at(
        transform(
          array(struct(col(vecCol).as("v"),
            {
              val mx = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
              when(mx === 0.0, 1.0).otherwise(mx).as("s")
            })),
          p => transform(p.getField("v"), x =>
            floor(x.cast("double") * 127.0 / p.getField("s") + 0.5).cast("long"))),
        1).as("codes"))

  /** Integer dot product / squared norm over code arrays — exact, via
    * the native codegen kernel ([[VectorExpr.dotL]]; integer sums are
    * associative so the value equals the HOF fold [[dotQHof]], which is
    * kept as the spec's equivalence witness). The kernel is the
    * difference between compressed-domain scoring beating the float
    * path and losing to it: at a 200k-corpus probe the interpreted HOF
    * made SQ8 2.6× slower than brute force. */
  private def dotQ(a: Column, b: Column): Column = VectorExpr.dotL(a, b)

  /** The builtin-HOF twin of [[dotQ]] — equivalence-tested witness. */
  private[graft] def dotQHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), _ + _)

  /** Brute-force top-k over SQ8 codes — same plan shape as
    * [[bruteForceTopK]] (query side broadcast, big side streams once),
    * but every comparison runs on int8-range integers. */
  def sq8TopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int,
              queryRows: Option[DataFrame] = None): DataFrame = {
    // cosine is undefined for zero vectors — both sides drop them (codes
    // all zero ⇒ squared norm 0), keeping the score NaN-free
    val coded = sq8Codes(Dedup.fanout(emb), idCol, vecCol)
      .withColumn("nsq", dotQ(col("codes"), col("codes")))
      .filter(col("nsq") > 0)
    val queries = sq8Codes(querySet(emb, queryPred, queryRows), idCol, vecCol)
      .withColumn("qnsq", dotQ(col("codes"), col("codes")))
      .filter(col("qnsq") > 0)
      .select(col(idCol).as("query_id"), col("codes").as("qcodes"), col("qnsq"))
    val scored = coded
      .select(col(idCol).as("neighbor_id"), col("codes").as("ncodes"), col("nsq"))
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim_q",
        round(dotQ(col("qcodes"), col("ncodes")).cast("double") /
          (sqrt(col("qnsq").cast("double")) * sqrt(col("nsq").cast("double"))), 6))
    rankTopK(scored, "cos_sim_q", k)
  }

  /** Deterministic-init k-means coarse quantizer for a real IVF index:
    * centroids seeded from the k smallest vec_ids, `iters` Lloyd rounds
    * (assign via [[VectorExpr.dotF]]-style native distance, centroid
    * update as per-dimension means). Centroids live on the driver
    * (k × dim doubles — trivially broadcastable); assignment is one
    * distributed projection per round. Returns (idCol, cluster).
    * Feed the result to [[ivfTopK]] as the bucket column. */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int,
                   trainPred: Column = lit(true)): DataFrame = {
    val centroids = kmeansCentroids(emb, idCol, vecCol, k, iters, trainPred)
    emb.select(col(idCol),
      VectorExpr.nearestCentroidF(col(vecCol), centroids).as("cluster"))
  }

  /** The Lloyd training loop behind [[kmeansAssign]], exposed for callers
    * that need the centroid table itself (PQ sub-quantizers): seeded from
    * the k smallest ids, `iters` rounds of assignment (native codegen
    * expression) + per-dimension means.
    *
    * Determinism: exact given the data AND the fp-reduction order — the
    * per-dimension means are distributed DOUBLE sums, so two cluster
    * shapes (or two shuffle-fetch orders) can differ in the last ulp.
    * The oracle-gated queries tolerate this because assignments and the
    * reported aggregates are rounding-stable at fixture scale; a caller
    * needing bit-identical training on any cluster shape should use the
    * fixed-point integer discipline of [[pqCodebooks]] (associative LONG
    * sums), which is also why THAT trainer takes [[Dedup.fanout]] and
    * this one deliberately does not (fanout changes the sum order; a
    * persist does not — the cache keeps the scan's partitioning and
    * in-partition row order, so the partial sums are the ones the
    * uncached plan produces).
    *
    * Same train-once discipline as [[pqCodebooks]]: `trainPred` bounds
    * the training set (assignment callers still cover every vector) and
    * the (id, vec) projection is persisted for the life of the loop —
    * one source scan total, not one per Lloyd round. */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int,
                      trainPred: Column = lit(true)): Array[Array[Double]] = {
    val train = emb.filter(trainPred).select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids: Array[Array[Double]] = train
        .orderBy(col(idCol)).limit(k)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)

      // assignment = native codegen expression with the (k × dim) centroid
      // table as a plan reference object — a full-corpus projection that
      // stays inside whole-stage codegen (ties keep the lower cluster id)
      for (_ <- 1 to iters) {
        val sums = train.select(
            VectorExpr.nearestCentroidF(col(vecCol), centroids).as("cluster"),
            col(vecCol))
          .select(col("cluster"), posexplode(col(vecCol)))
          .groupBy(col("cluster"), col("pos"))
          .agg(sum(col("col").cast("double")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = Array.tabulate(centroids.length)(c => centroids(c).clone())
        sums.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getDouble(2) / r.getLong(3)
        }
        centroids = next
      }
      centroids
    } finally { train.unpersist(blocking = false); () }
  }

  /** Fixed-point scale for the PQ pipeline: normalized components lie in
    * [-1, 1], so |round(x·2²⁰)| ≤ 2²⁰ < 2²⁴ — every quantized value is
    * EXACTLY representable as a float, every subspace distance
    * (≤ dsub·2⁴²) and ADC score (≤ m·2⁴²) exactly as a double. With all
    * PQ arithmetic on integers, sums are associative: training gives the
    * same codebooks on any partitioning (local[32] or 1000 executors),
    * and the DuckDB oracle can replay the whole pipeline bit-for-bit
    * with BIGINT sums. */
  private val pqScale: Int = 1 << 20

  /** Round half away from zero — the semantics of both Spark SQL
    * `round(double)` (BigDecimal HALF_UP) and DuckDB `round(double)`.
    * (`math.round` rounds half UP — toward +∞ — which disagrees on
    * negative .5 ties.) Safe from fp-boundary misrounds here: inputs are
    * s/n with |s| ≤ n·2²⁰ and n ≤ corpus size, so the true rational is
    * either exactly on a .5 boundary (representable, both engines round
    * away from zero) or at least 1/(2n) away — far beyond double error. */
  private def roundHalfAway(d: Double): Double =
    if (d >= 0) math.floor(d + 0.5) else math.ceil(d - 0.5)

  /** `qvec`: the L2-normalized vector quantized to fixed-point integers
    * (stored as floats — exact, see [[pqScale]]). Zero vectors quantize
    * to all-zero. PQ for COSINE ranking must quantize the normalized
    * vectors — ADC approximates the raw inner product, and on
    * unnormalized data that ranking diverges from cosine by the norm
    * spread, swamping the quantization error (measured: recall@5 0.14
    * raw vs 0.70 normalized on the fixture). */
  private def pqQuantized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.withColumn("_nrm", normUdf(col(vecCol)))
      .withColumn("qvec", transform(col(vecCol), x =>
        when(col("_nrm") === 0.0, lit(0.0f))
          .otherwise(round(x.cast("double") / col("_nrm") * pqScale.toDouble)
            .cast("float"))))
      .drop("_nrm")

  /** Product-quantization codebooks (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): split the vector into `m`
    * equal subspaces and train an independent kSub-centroid quantizer per
    * subspace. Returns m × kSub × (dim/m) driver-side doubles (integral
    * fixed-point values, see [[pqScale]]) — a few KB, inlined into
    * downstream plans as literals. Empty input → m empty books (callers
    * degrade to an empty result frame).
    *
    * All m sub-quantizers train JOINTLY — one distributed job per Lloyd
    * round scores every subspace's assignment in a single projection and
    * aggregates all m×kSub centroid sums in one (subspace, cluster, pos)
    * groupBy. The per-subspace math is unchanged (each subspace's update
    * reads only its own slice), but m sequential training loops would
    * cost m·iters scheduled jobs; at m=16 that fixed per-job overhead —
    * not compute — dominated the whole PQ query (measured 12.2 s → ~2 s
    * at sf0.1 on local[32]). Same lesson at cluster scale: driver-side
    * loops must batch their per-round work into one job, not one per
    * model component.
    *
    * Determinism: quantized components are integers, so the per-round
    * `sum` is an exact LONG sum — associative, partition-order-free —
    * and the centroid update rounds s/n back to an integer. Training is
    * reproducible on any cluster shape, and the DuckDB oracle replays it
    * exactly (unrolled iterations, BIGINT sums).
    *
    * `trainPred` bounds the TRAINING set (codes/ADC still cover every
    * vector): a production PQ trainer never Lloyd-iterates the full
    * corpus — a deterministic hash sample (the `dedup_lsh_eval`
    * pattern, replayable by the oracle) trains a model-constant-sized
    * codebook on a bounded slice. The training frame is additionally
    * persisted for the life of the loop, so the source is scanned ONCE
    * total — not once per Lloyd round (r14's `ann_topk_pq` regression:
    * iters × full scan + repartition exchange to train a few-KB model). */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                  m: Int, kSub: Int, iters: Int,
                  trainPred: Column = lit(true)): Array[Array[Array[Double]]] = {
    // filter BEFORE fanout: prune, then repartition only the sample.
    // fanout: the per-round assignment pass must use every core on
    // few-file corpora; safe for reproducibility because every
    // per-round sum is an exact LONG sum (associative — partitioning
    // cannot change the books)
    val train = pqQuantized(Dedup.fanout(emb.filter(trainPred)),
        idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seeds: the kSub smallest-id TRAINING vectors, sliced per
      // subspace — exactly the seeds the per-subspace
      // kmeansCentroids(slice) form would pick. This collect is the one
      // materialization; every Lloyd round below reads the cache. The
      // vector DIMENSION comes from the seed rows too — a separate
      // `size(vec) limit 1` probe was a whole extra driver action AND
      // the trainer's second source scan, for one integer the seeds
      // already carry.
      val seedRows = train.orderBy(col(idCol)).limit(kSub)
        .select(col("qvec")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      if (seedRows.isEmpty) return Array.fill(m)(Array.empty[Array[Double]])
      val dim = seedRows(0).length
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
      val dsub = dim / m
      var books: Array[Array[Array[Double]]] =
        Array.tabulate(m)(j => seedRows.map(_.slice(j * dsub, (j + 1) * dsub)))
      for (_ <- 1 to iters) {
        val subStructs = array((0 until m).map { j =>
          val sub = slice(col("qvec"), j * dsub + 1, dsub)
          struct(lit(j).as("j"),
            VectorExpr.nearestCentroidF(sub, books(j)).as("c"),
            sub.as("sub"))
        }: _*)
        val sums = train.select(explode(subStructs).as("s"))
          .select(col("s.j").as("j"), col("s.c").as("c"),
            posexplode(col("s.sub")))
          .groupBy(col("j"), col("c"), col("pos"))
          .agg(sum(col("col").cast("long")).as("s"), count(lit(1)).as("n"))
          .collect()
        // empty clusters keep their previous centroid (the COALESCE the
        // oracle's LEFT JOIN mirrors)
        val next = books.map(_.map(_.clone()))
        sums.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            roundHalfAway(r.getLong(3).toDouble / r.getLong(4))
        }
        books = next
      }
      books
    } finally { train.unpersist(blocking = false); () }
  }

  /** PQ codes: per vector, the nearest sub-centroid id in each subspace —
    * m small ints (bytes at rest). A 64-dim float vector (256 B)
    * compresses to m = 4 bytes: the 64× shrink is what lets a
    * billion-vector index live in memory while the floats stay on disk
    * for optional re-ranking. Pure projection — codes pipeline inside the
    * scan stage. Quantizes internally ([[pqQuantized]]) so assignment
    * runs in the same exact-integer space the books were trained in. */
  def pqCodes(emb: DataFrame, idCol: String, vecCol: String,
              codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val dsub = codebooks(0)(0).length
    pqQuantized(emb, idCol, vecCol).select(col(idCol).as("vec_id"),
      array(codebooks.indices.map(j =>
        VectorExpr.nearestCentroidF(
          slice(col("qvec"), j * dsub + 1, dsub), codebooks(j)).cast("int")): _*)
        .as("codes"))
  }

  /** ADC top-k (asymmetric distance computation): each query precomputes
    * an m × kSub lookup table of subspace dot products ONCE against the
    * literal codebooks; every candidate then costs m table lookups + adds
    * instead of a dim-length float dot — over the m-byte codes, not the
    * full vectors. The queries (vector + LUT) broadcast; the code table
    * streams once. Vectors are L2-normalized then fixed-point quantized
    * ([[pqQuantized]]) so ADC approximates cosine AND every score is an
    * exact integer-valued double — deterministic on any cluster shape
    * and replayable by the DuckDB oracle. Approximate by construction:
    * recall floor vs the exact scan is pinned in `SimilaritySpec`, the
    * same contract as SQ8/IVF. */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String, queryPred: Column,
             m: Int, kSub: Int, iters: Int, topK: Int,
             trainPred: Column = lit(true),
             queryRows: Option[DataFrame] = None): DataFrame = {
    val codebooks = pqCodebooks(emb, idCol, vecCol, m, kSub, iters, trainPred)
    if (codebooks.exists(_.isEmpty))  // empty corpus → empty result, typed
      return emb.select(col(idCol).as("query_id"), lit(1).as("rank"),
        col(idCol).as("neighbor_id"), lit(0.0).as("adc_score")).limit(0)
    val dsub = codebooks(0)(0).length
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // per-query LUT: lut[j][c] = <q_j, centroid[j][c]> — m·kSub·dsub work
    // once per QUERY, amortized over every candidate it scores
    val lut = transform(cbLit, (jarr, j) =>
      transform(jarr, cvec =>
        aggregate(
          zip_with(slice(col("qvec"), j * lit(dsub) + 1, lit(dsub)), cvec,
            (a, b) => a.cast("double") * b),
          lit(0.0), (acc, x) => acc + x)))
    val queries = pqQuantized(querySet(emb, queryPred, queryRows), idCol, vecCol)
      .select(col(idCol).as("query_id"), col("qvec"))
      .withColumn("lut", lut)
      .select("query_id", "lut")
    // Σ_j lut[j][codes[j]] via the native kernel — same index-order
    // double fold as the aggregate/zip_with HOF (bit-identical), but it
    // stays inside whole-stage codegen across the 10⁷-row candidate
    // frame instead of re-entering the lambda interpreter per pair
    val approx = VectorExpr.adcScoreF(col("lut"), col("codes"))
    val scored = pqCodes(Dedup.fanout(emb), idCol, vecCol, codebooks)
      .select(col("vec_id").as("neighbor_id"), col("codes"))
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_score", approx)
    rankTopK(scored, "adc_score", topK)
  }

  /** PQ with exact re-ranking — the production pattern: the ADC pass over
    * m-byte codes produces a `shortlist` of candidates per query, then
    * ONLY those rows join back to their full float vectors for an exact
    * cosine re-rank. At a billion vectors the codes fit in memory and the
    * floats stay on disk; the re-rank touches shortlist·queries vectors,
    * not the corpus. Recall is the shortlist's (monotone ≥ plain ADC
    * top-k), scoring is exact. */
  def pqTopKReranked(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, m: Int, kSub: Int, iters: Int,
                     topK: Int, shortlist: Int,
                     trainPred: Column = lit(true),
                     queryRows: Option[DataFrame] = None): DataFrame = {
    val cand = pqTopK(emb, idCol, vecCol, queryPred, m, kSub, iters, shortlist,
      trainPred, queryRows)
      .select(col("query_id"), col("neighbor_id"))
    val queries = QuerySide.of(querySet(emb, queryPred, queryRows), idCol, vecCol)
    val scored = cand
      .join(broadcast(queries), Seq("query_id"))
      .join(NeighborSide.of(emb, idCol, vecCol), Seq("neighbor_id"))
      .withColumn("cos_sim", QuerySide.cosine(NeighborSide))
    rankTopK(scored, "cos_sim", topK)
  }

  /** IVF-style top-k: probe only vectors in the query's coarse bucket
    * (`bucketCol` — a cluster id; the fixture's `label` stands in for a
    * k-means assignment). Same output shape as brute force; recall trades
    * against the 1/|buckets| work reduction, exactly like FAISS IVF with
    * nprobe=1. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, bucketCol: String,
              queryPred: Column, k: Int,
              queryRows: Option[DataFrame] = None): DataFrame = {
    val queries = QuerySide.of(querySet(emb, queryPred, queryRows), idCol, vecCol,
      col(bucketCol).as("qbucket"))
    ivfRankJoin(emb, idCol, vecCol, col(bucketCol), queries, k)
  }

  /** Shared IVF tail: bucket equi-join (query side broadcast, big side
    * streams once), exact cosine on candidates, per-query window top-k.
    * Both probe variants rank through here so tie-break/scoring can never
    * diverge between them. */
  private def ivfRankJoin(emb: DataFrame, idCol: String, vecCol: String,
                          dataBucket: Column, queries: DataFrame,
                          k: Int): DataFrame = {
    val scored = NeighborSide.of(Dedup.fanout(emb), idCol, vecCol, dataBucket.as("nbucket"))
      .join(broadcast(queries),
        col("qbucket") === col("nbucket") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", QuerySide.cosine(NeighborSide))
    rankTopK(scored, "cos_sim", k)
  }

  /** Multi-probe IVF over a k-means quantizer (FAISS `nprobe`): the data
    * side is assigned its ONE nearest centroid ([[VectorExpr.nearestCentroidF]],
    * a codegen projection); each query probes its `nprobe` nearest cells
    * ([[VectorExpr.nearestCentroidsF]] → explode). Recall rises
    * monotonically with nprobe and reaches brute force exactly at
    * nprobe = |centroids| (pinned in SimilaritySpec); scan/shuffle work
    * scales with nprobe/|centroids| instead of 1. Query side stays
    * broadcast — the big side still streams once. */
  def ivfTopKProbes(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Double]], nprobe: Int,
                    queryPred: Column, k: Int,
                    queryRows: Option[DataFrame] = None): DataFrame = {
    val queries = QuerySide.of(querySet(emb, queryPred, queryRows), idCol, vecCol,
      explode(VectorExpr.nearestCentroidsF(col(vecCol), centroids, nprobe)).as("qbucket"))
    ivfRankJoin(emb, idCol, vecCol,
      VectorExpr.nearestCentroidF(col(vecCol), centroids), queries, k)
  }
}
