package graft.queries

import graft.corpus.{Dedup, Graphs, Ingest, Multimodal, Similarity, Sketches, SparseSigExpr, TextAnalysis => T}
import graft.streaming.StreamTuning
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * LLM-data-pipeline query surface (SURVEY.md §7 phase F / BASELINE.json
 * north star): dedup, similarity search, multimodal columns and text
 * analysis over the `documents` and `embeddings` fixtures, each paired
 * with a DuckDB oracle.
 *
 * Cross-engine determinism rules used throughout the oracles:
 *  - portable hash = ('0x' || substring(md5(x),1,15))::BIGINT, mirroring
 *    Spark's conv(substring(md5(x),1,15),16,10)::long — 60 bits, no
 *    overflow, identical in both engines;
 *  - every ratio casts operands to DOUBLE explicitly (DuckDB's `1.0` is
 *    DECIMAL, which would change the arithmetic);
 *  - DuckDB regexp_replace needs the 'g' flag to match Spark's
 *    replace-all semantics;
 *  - aggregate sums of BIGINT are CAST back to BIGINT (DuckDB widens to
 *    HUGEINT, which the driver's dtype-sensitive compare rejects);
 *  - float vectors: cast float→double per element BEFORE arithmetic and
 *    fold sequentially in list order on both sides → bit-identical IEEE.
 */
object CorpusQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** The hashed-linear-classifier score at doc grain — w(tok) =
    * hash60("clf|"+tok) mod 2001 − 1000 summed per doc — ONE definition
    * shared by `text_classifier_score` and `quality_kappa` (a tuned
    * formula updated in one copy would make kappa silently measure
    * agreement with a stale signal). Returns (doc_id, n_toks,
    * score_fp); docs with zero tokens are absent (callers left-join). */
  /** Mutual-kNN edge set (directed, both orientations present for every
    * undirected edge): knn ∩ reverse(knn) — degree ≤ k by construction.
    * Artifact-backed (Graphs.mutualKnnTable): the graph is built once
    * per corpus version and READ by the triangle/LPA/modularity
    * consumers — at 100 TB nobody recomputes a kNN graph per query. */
  private def mutualKnnEdges(spark: SparkSession, dir: String): DataFrame =
    Graphs.mutualKnnTable(emb(spark, dir), "vec_id", "embedding",
      srpPlanesConst, srpPlanesPerTable, knnGraphK,
      knnArtifactPath(spark, dir))

  /** Bench hook (the rebuildClustersArtifact twin): wipe + rebuild the
    * mutual-kNN graph artifact so its BUILD cost is a timed metric of
    * its own and the per-query timings of the graph trio measure the
    * read path. */
  def rebuildKnnArtifact(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(knnArtifactPath(spark, dir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    mutualKnnEdges(spark, dir).count()
  }

  private def classifierScorePerDoc(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
      .withColumn("w", T.hash60(concat(lit("clf|"), col("tok"))) % 2001L - 1000L)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("score_fp"))

  /** Per-source length median (lower median, (n+1) div 2 nearest-rank) —
    * the "keep" reference signal shared by `quality_kappa` and
    * `quality_calibration`. Source-keyed rank windows: parallel
    * partitions, never a global sort. Returns (source, med). */
  private def sourceLengthMedian(d: DataFrame): DataFrame = {
    val bySource = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    d.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rn", row_number().over(bySource))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("source"), col("n_chars").as("med"))
  }

  /** Deterministic output-shard manifest (see `corpus_shards`): hash60
    * sharding + per-shard stats and an order-independent content digest.
    * Shared by the manifest query and the compaction planner. */
  private def shardManifest(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("shard",
        pmod(T.hash60(concat(lit("shard|"), col("doc_id").cast("string"))),
          lit(nShards)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(T.hash60(col("text")) % 1073741824L).as("content_digest"))

  /** The materialized near-dup cluster artifact ([[Dedup.clustersTable]])
    * for this corpus version: the postings → pairs → connected-components
    * chain is three full corpus passes, and three queries consume its
    * result (`dedup_clusters`, `dedup_keep`, `dedup_keep_best`) — the
    * production pipeline computes it ONCE per corpus version and the
    * consumers read the table. The artifact path encodes the corpus dir +
    * every chain parameter + a chain version tag, so a parameter change
    * or new corpus never reads a stale artifact. Scratch base matches the
    * bench's tmpfs discipline. */
  private def clustersArtifact(spark: SparkSession, dir: String): DataFrame =
    Dedup.clustersTable(docs(spark, dir), "doc_id", "text",
      shingleK, jaccardThreshold, clustersArtifactPath(spark, dir))

  /** Bench hook: wipe this corpus's cluster artifact and rebuild it,
    * returning the label count — so the BUILD cost (three corpus passes)
    * is a timed, driver-visible metric of its own. The per-query timings
    * of the `dedup_clusters` trio then measure the read path, which is
    * the architecture's point; without this hook the build cost would
    * hide behind min-of-2 entirely. */
  def rebuildClustersArtifact(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(clustersArtifactPath(spark, dir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    clustersArtifact(spark, dir).count()
  }

  private def clustersArtifactPath(spark: SparkSession, dir: String): String =
    // v2: the artifact became the two-table {edges, labels} layout
    artifactPath(spark, dir, "documents.parquet", "graft_clusters",
      s"v2_k${shingleK}_t${jaccardThreshold}".replace('.', 'p'))

  private def knnArtifactPath(spark: SparkSession, dir: String): String =
    artifactPath(spark, dir, "embeddings.parquet", "graft_knn",
      s"v1_k${knnGraphK}_p${srpPlanesPerTable}x${srpPlanesConst.length}")

  /** Scratch path for a compute-once per-corpus artifact, fingerprinted
    * so a regenerated corpus at the same path never reads a stale
    * artifact: per-file FNV-1a over name|len|mtime, folded ORDER-
    * SENSITIVELY (sorted names, polynomial combine — a plain XOR is
    * self-cancelling and blind to content swaps between same-size
    * files). Superseded artifacts for the same corpus dir (older
    * fingerprint or parameter tag) are pruned so scratch space stays
    * bounded. */
  private def artifactPath(spark: SparkSession, dir: String,
      srcName: String, kind: String, tag: String): String = {
    val src = new org.apache.hadoop.fs.Path(s"$dir/$srcName")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fp(s: org.apache.hadoop.fs.FileStatus): Long =
      s"${s.getPath.getName}|${s.getLen}|${s.getModificationTime}"
        .foldLeft(0xcbf29ce484222325L)((a, c) => (a ^ c) * 0x100000001b3L)
    val st = fs.getFileStatus(src)
    val parts =
      if (st.isDirectory) fs.listStatus(src).sortBy(_.getPath.getName).toSeq
      else Seq(st)
    val fprint = java.lang.Long.toHexString(
      parts.foldLeft(1125899906842597L)((acc, s) => acc * 31L + fp(s)))
    val dirSuffix = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val name = s"${kind}_${tag}_${fprint}_$dirSuffix"
    try fs.listStatus(new org.apache.hadoop.fs.Path(Scratch.base)).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith(s"${kind}_") && n.endsWith(s"_$dirSuffix") &&
          n != name) fs.delete(s.getPath, true)
    } catch { case _: java.io.IOException => () }
    s"${Scratch.base}/$name"
  }

  /** DSIR-style per-doc importance scores (see `corpus_importance` for
    * the full rationale): add-one-smoothed unigram likelihood ratio vs
    * the TARGET sources, fixed-point integers end-to-end. Shared by the
    * scoring query and the top-N selection query. */
  private def importanceScores(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val occ = d.select(col("doc_id"),
      col("source").isin("src0", "src1", "src2", "src3", "src4").as("is_target"),
      explode(T.tokens(col("text"))).as("w"))
    val cnt = occ.groupBy(col("w")).agg(
      count(lit(1)).as("ac"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("tc"))
    val per = occ.join(cnt, "w")
      .withColumn("r", expr("((tc + 1) * 1000000) div (ac + 1)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("r")).as("imp_sum"))
    d.select(col("doc_id"), col("source")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("imp_sum"), lit(0L)).as("imp_sum"),
        coalesce(expr("imp_sum div n_tokens"), lit(0L)).as("imp_mean"))
  }

  /** Corpus-trained add-one-smoothed bigram LM, per-doc fixed-point
    * sums — shared by `text_lm_score` (the per-doc score) and
    * `corpus_ppx_buckets` (the CCNet head/middle/tail routing built on
    * it). Returns (doc_id, source, n_bigrams, lm_sum); every term is
    * `floor(10⁶·(bn+1)/(un+V))` via `div` — pure integers, so both
    * consumers stay hash-gate exact. */
  private def lmPerDoc(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // The smoothed term is a function of the bigram TYPE, not the
    // occurrence: un and V attach on the vocabulary-bounded dictionary,
    // never on the 10⁸-row occurrence stream (the old occurrence-grain
    // form shuffled the full stream three times — by bg for the census,
    // by w1 for the unigram join, by doc for the rollup — and cost 45 s
    // at the 500k-doc probe; this shape costs two big shuffles and runs
    // ~6x faster). The explicit bg repartition is the shared-exchange
    // barrier: the census groupBy AND the dictionary join both ride it.
    // (A hash-keyed variant — bigrams travelling as their portable
    // 60-bit hash for fixed-width long-keyed shuffles — measured 2.8x
    // WORSE at the 500k-doc probe: the per-row md5/conv/substring cost
    // of 66M hashes swamps what the narrower shuffle saves. Strings it
    // is.)
    // The duplicated-explode question (r21 item 9 → r22 item 1, now
    // CLOSED as a two-scale reproduced null): the plan runs the bigram
    // explode twice and the unigram explode twice. r22 pinned the true
    // de-canonicalizer — the final left-outer join pushes
    // isnotnull(doc_id) below the shared bg exchange on the probe side
    // only (NOT a bg-key filter, as r21 guessed), and the V branch
    // additionally prunes its partial agg to keys-only. Both repairs
    // were built and runtime-verified (hoisted isnotnull → AQE
    // ReusedExchange, bigram Generate runs once; eager checkpoint of
    // the vocab-bounded unigram census → unigram explode once;
    // plans/r22/*_before/after.txt), then measured at sf0.1
    // (interleaved min-of-3) AND the 500k-doc gen_sf1 probe (3 pairs +
    // 2 pairs): every comparison was a wash or a small regression —
    // the duplicated branches overlap on non-saturated cores while the
    // deduped plan serializes its consumers behind one map stage, and
    // the eager census pin is a blocking job wave. Both reverted; see
    // OPTIMIZATION_r22.md for the full evidence table. At a genuinely
    // saturated cluster the hoist halves explode+shuffle-write work —
    // re-evaluate there, with this diagnosis in hand.
    val occ = Dedup.fanout(d)
      .select(col("doc_id"), explode(T.kgrams(col("text"), 2)).as("bg"))
      .repartition(col("bg"))
    val bcnt = occ.groupBy(col("bg")).agg(count(col("doc_id")).as("bn"))
    val uni = d.select(explode(T.tokens(col("text"))).as("w"))
    val ucnt = uni.groupBy(col("w")).agg(count(lit(1)).as("un"))
    val vdf = uni.agg(countDistinct(col("w")).as("v"))
    val dict = bcnt
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(ucnt, col("w1") === col("w"))
      .crossJoin(broadcast(vdf)) // 1-row vocab size onto the dictionary
      .select(col("bg"), expr("((bn + 1) * 1000000) div (un + v)").as("term"))
    val per = occ.join(dict, "bg")
      .groupBy(col("doc_id"))
      .agg(count(col("bg")).as("n_bigrams"), sum(col("term")).as("lm_sum"))
    d.select(col("doc_id"), col("source")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_sum"), lit(0L)).as("lm_sum"))
  }

  /** Per-label coarse centroids from exact fixed-point integer sums
    * (order-independent, so both engines train bit-identical centroids)
    * — the IVF quantizer shared by `ann_topk_ivf_probes` and
    * `ann_recall_report`. The driver collects only labels·dim
    * aggregated sums (the PQ-training pattern), never corpus rows.
    * Centroids are keyed by the labels actually PRESENT (sorted, so
    * cell id i = the i-th smallest label — the oracle's ordering): a
    * dense array indexed 0..max(label) would mint phantom all-zero
    * centroids for any gap in the label space and silently skew
    * assignments. For contiguous 0..n-1 labels the mapping is the
    * identity. */
  private def trainedCentroids(e: DataFrame): Array[Array[Double]] = {
    val sums = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("xi",
        round(col("x").cast("double") * 1048576.0, 0).cast("long"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("xi")).as("s"), count(lit(1)).as("n"))
      .collect()
    require(sums.nonEmpty, "embeddings table is empty — no centroids to train")
    val labels = sums.map(_.getInt(0)).distinct.sorted
    val labIdx = labels.zipWithIndex.toMap
    val dim = sums.map(_.getInt(1)).max + 1
    val centroids = Array.ofDim[Double](labels.length, dim)
    sums.foreach { r =>
      centroids(labIdx(r.getInt(0)))(r.getInt(1)) =
        r.getLong(2).toDouble / (r.getLong(3) * 1048576L).toDouble
    }
    centroids
  }

  // shared knobs (kept in lockstep with the oracle SQL below)
  val shingleK = 3
  // span-dedup window (tokens) + boilerplate census size — w is the
  // minimum run a span-level deduper treats as boilerplate; 8 tokens on
  // this corpus's ~45-token docs plays the role 50 tokens does on web text
  val spanW = 8
  val boilerplateTopN = 50
  // winnowing window (grams): guarantee = any shared run of
  // winnowW + shingleK - 1 tokens surfaces as a shared fingerprint
  val winnowW = 4
  val jaccardThreshold = 0.8
  // df cap for the exact postings self-joins (Dedup.defaultMaxDf) —
  // shared with the oracle SQL so both engines drop the same postings
  val maxShingleDf = Dedup.defaultMaxDf
  val numHashes = 12
  val rowsPerBand = 3
  // doc-sample modulus for the LSH banding diagnostic: the exact-truth
  // leg is O(qualifying pairs), so the diagnostic runs on a hash60(id)
  // mod-N sample of docs (pair work ÷ N²) — the knob that keeps
  // precision/recall measurable at any corpus size. Shared with the
  // oracle SQL so both engines sample identical docs.
  val lshEvalSampleMod = 2L
  // sweep design points: every value must divide numHashes
  val lshSweepConfigs = Seq(2, 3, 4, 6)
  // jaccard-threshold sweep: base must be the minimum (pruning is
  // lossless at the threshold the pair computation runs at)
  val sweepBaseThreshold = 0.5
  val sweepThresholds = Seq(0.5, 0.65, 0.8, 0.9)
  /** Deterministic synthetic URL per doc (the documents fixture carries
    * no url column): 21 registrable domains × 50 paths + tracking/query
    * noise — shared by the url analytics and the domain-cap curation,
    * mirrored verbatim in their oracle SQL. */
  private def synthUrl: Column = concat(
    lit("https://www.site"), pmod(col("doc_id"), lit(7L)).cast("string"),
    when(pmod(col("doc_id"), lit(3L)) === 0, ".com")
      .when(pmod(col("doc_id"), lit(3L)) === 1, ".org").otherwise(".net"),
    lit("/p/"), pmod(col("doc_id"), lit(50L)).cast("string"),
    when(pmod(col("doc_id"), lit(4L)) === 0, "?utm_source=feed").otherwise(""),
    when(pmod(col("doc_id"), lit(5L)) === 0, "#frag").otherwise(""))

  // per-domain doc cap for corpus_domain_cap (in lockstep with oracle)
  val domainCapN = 10

  // corpus_epochs: training budget = this × total corpus chars
  val epochsBudgetX = 3
  // emb_matryoshka_eval: prefix dims evaluated against the full 64
  val matryoshkaDims = Seq(16, 32)
  // text_chi2_terms: min per-source doc frequency + terms kept per source
  val chi2MinDf = 3
  val chi2TopK = 5
  // emb_communities: synchronous label-propagation iterations
  val lpaIters = 3
  // emb_kcore: core orders reported + synchronous peel rounds
  val kCoreKs = Seq(2, 3)
  val kCoreRounds = 6
  // text_textrank_terms: min co-occurrence weight, PR iterations, top-k
  val textrankMinW = 3
  val textrankIters = 10
  val textrankTopK = 20
  // text_burstiness: df floor + terms reported
  val burstinessMinDf = 5
  val burstinessTopK = 20

  // output shard count for the corpus_shards manifest
  val nShards = 16L

  // emb_kmeans knobs (mirrored literally in the unrolled oracle SQL)
  val kmeansK = 8
  val kmeansIters = 2

  // ann_maxsim_topk: sub-vectors per embedding (dim must divide evenly)
  val maxsimSegs = 4
  /** query docs for search_similar_doc = doc_id % this == 0 */
  val similarQueryStride = 211L
  val similarTopK = 5
  /** Planted malformed JSONL lines — ONE definition shared by the
    * corpus_ingest fixture, the corpus_quarantine fixture, and the
    * quarantine oracle's VALUES (three hand-maintained copies would let
    * an edit to one silently break the other two's hash gates). */
  private val badJsonLines =
    Seq("{\"doc_id\": 900000001, \"source\": \"sbad\"", "not json at all", "{]")
  /** The rotten shard bytes: the malformed lines plus whitespace-only
    * lines that must be SKIPPED, not budget-charged. */
  private val badJsonShard =
    (badJsonLines ++ Seq("\t", "   ")).mkString("\n") + "\n"
  // k-NN graph degree (corpus-graph artifact, knn_graph)
  val knnGraphK = 5
  // multimodal aHash near-dup: signature width + Hamming radius
  val ahashBits = 60
  val ahashMaxHamming = 2
  // mm_phash_neardup: Hamming radius over the 63-bit DCT hash
  val phashMaxHamming = 2

  // BPE training depth for vocab_bpe_merges (oracle CTE chain length)
  val bpeTrainMerges = 8

  /** `replace(replace(... , pat, rep), pat, rep)` nested `n` times —
    * the oracle's fixpoint of the merge replace (exact for ≤2^n-symbol
    * words; the shared 64-symbol cap makes 8 passes exhaustive). */
  private def nestedReplace(inner: String, pat: String, rep: String,
                            n: Int): String =
    (1 to n).foldLeft(inner)((acc, _) => s"replace($acc, $pat, $rep)")

  /** Generated DuckDB replay of [[graft.corpus.Vocab.bpeMerges]]: one
    * (pair-count, argmax, pattern, replace-merge) CTE quad per
    * iteration. The iterated replace-merge string semantics is the
    * deterministic contract — see the bpeMerges scaladoc. */
  private def bpeMergeOracle(n: Int): String = {
    val sel = (1 to n)
      .map(i => s"SELECT $i AS rank, l AS lhs, r AS rhs, c AS pair_count FROM b$i")
      .mkString("\nUNION ALL\n")
    s"${bpeChain(n)}\n$sel\nORDER BY rank"
  }

  /** [[bpeChain]]'s final segmentation applied back to the corpus: per
    * doc, trainable-word count and subword-token count under the
    * learned rules — the tokenizer-application twin. */
  private def bpeApplyOracle(n: Int): String =
    s"""${bpeChain(n)}
       |, wd AS (
       |  SELECT word, len(string_split(trim(s, ' '), ' ')) AS n_sub FROM s$n
       |), dw AS (
       |  SELECT doc_id, word FROM (SELECT doc_id, unnest(ws) AS word FROM d0)
       |  WHERE regexp_matches(word, '^[a-z0-9]+$$') AND length(word) <= 64
       |), per AS (
       |  SELECT doc_id, count(*) AS n_words,
       |         CAST(sum(n_sub) AS BIGINT) AS n_subwords
       |  FROM dw JOIN wd USING (word) GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |       coalesce(n_words, 0) AS n_words,
       |       coalesce(n_subwords, 0) AS n_subwords,
       |       CAST(CASE WHEN coalesce(n_words, 0) = 0 THEN 0
       |            ELSE (n_subwords * 1000000) // n_words END AS BIGINT)
       |         AS subwords_per_word_fp
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private def bpeChain(n: Int): String = {
    val head =
      """WITH d0 AS MATERIALIZED (
        |  SELECT doc_id,
        |         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS ws
        |  FROM documents
        |), w0 AS MATERIALIZED (
        |  SELECT word, count(*) AS cnt
        |  FROM (SELECT unnest(ws) AS word FROM d0)
        |  WHERE regexp_matches(word, '^[a-z0-9]+$') AND length(word) <= 64
        |  GROUP BY word
        |), s0 AS MATERIALIZED (
        |  SELECT word,
        |         ' ' || array_to_string(regexp_extract_all(word, '.'), ' ') || ' ' AS s,
        |         cnt
        |  FROM w0
        |)""".stripMargin
    val iters = (1 to n).map { i =>
      s""", pc$i AS MATERIALIZED (
         |  SELECT p[1] AS l, p[2] AS r, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt,
         |               unnest(list_transform(range(1, len(sy)), k -> [sy[k], sy[k+1]])) AS p
         |        FROM (SELECT cnt, string_split(trim(s, ' '), ' ') AS sy FROM s${i - 1})
         |        WHERE len(sy) >= 2)
         |  GROUP BY 1, 2
         |), b$i AS MATERIALIZED (
         |  SELECT l, r, c FROM pc$i ORDER BY c DESC, l, r LIMIT 1
         |), m$i AS MATERIALIZED (
         |  SELECT ' ' || l || ' ' || r || ' ' AS pat, ' ' || l || r || ' ' AS rep
         |  FROM b$i
         |), s$i AS MATERIALIZED (
         |  SELECT word, ${nestedReplace("s", s"m$i.pat", s"m$i.rep", 8)} AS s, cnt
         |  FROM s${i - 1}, m$i
         |)""".stripMargin
    }.mkString("\n")
    s"$head\n$iters"
  }

  // dedup-aware split knobs (kept in lockstep with the oracle SQL)
  val trainPct = 80
  val valPct = 10
  val splitSalt = "split"
  val simhashMaxHamming = 1
  // signature width shared by Dedup.simhashSig and the oracle's per-bit
  // vote columns; 60 = the full portable-hash width (15 hex MD5 chars)
  val simhashBits = Dedup.simhashDefaultBits
  val cosineThreshold = 0.4
  /** eval set for semantic decontamination = vec_id % this == 0 */
  val semEvalStride = 97L
  val containmentThreshold = 0.9
  val annK = 10
  val annQueryStride = 200 // queries = vec_id % 200 == 0
  // PQ pipeline parameters, shared by the query and its oracle
  val pqM = 16
  val pqKSub = 16
  val pqIters = 3
  val pqShortlist = 50
  val pqScaleSql = 1048576 // = Similarity.pqScale (2^20 fixed-point)
  /** Streaming semantic-admission cosine threshold — 0.35 refuses a
    * meaningful-but-not-collapsing fraction on the near-random fixture
    * (measured: 271 global pairs at sf0.01, 4,137 at sf0.1). */
  val semIngestThreshold = 0.35

  /** PQ TRAINING sample: hash60(vec_id) mod this == 0 (the dedup_lsh_eval
    * sampling discipline). A production PQ trainer never Lloyd-iterates
    * the corpus to fit a few-KB model; codes/ADC still cover every
    * vector. Mirrored verbatim in the oracle's qt/seed CTEs. */
  val pqTrainMod = 4L
  val srpPlanesPerTable = 4
  /** 16 hyperplanes (4 tables × 4 bits) over the 64-dim fixture space. */
  val srpPlanesConst: Array[Array[Double]] = Similarity.srpPlanes(16, 64)

  /** The HLL sketch of hash column `h` per group of `keys` (none: one
    * sketch of the whole frame), as the `zero_regs` and `denom` inputs of
    * `Sketches.hllEstimateCol`: registers by MAX rho, then the register
    * sum with the empty registers' terms added back. */
  private def hllSums(hashed: DataFrame, keys: Column*): DataFrame =
    hashed.groupBy(keys :+ Sketches.hllRegister(col("h")).as("reg"): _*)
      .agg(max(Sketches.hllRho(col("h"))).as("m_rho"))
      .groupBy(keys: _*)
      .agg(sum(Sketches.hllDenomTerm(col("m_rho"))).as("denom_present"),
        count(lit(1)).as("n_present"))
      .withColumn("zero_regs",
        (lit(Sketches.HllM) - col("n_present")).cast("int"))
      .withColumn("denom",
        col("denom_present") + col("zero_regs") * lit(Sketches.HllEmptyTerm))

  /** The wave harness of the streaming admission oracle rows: `frame`
    * arrives as four `key`-mod-4 waves through a real file source, one
    * parquet file per wave with arrival-ordered mtimes, so ONE
    * AvailableNow run with maxFilesPerTrigger=1 replays the arrival order
    * as four sequential micro-batches. `admit(corpusDir)` is the
    * foreachBatch loop; it runs batches one at a time against the store as
    * of batch start. Returns the admitted corpus with its `wave`. */
  private def ingestWaves(spark: SparkSession, dir: String, prefix: String,
                          frame: DataFrame, key: String)
                         (admit: String => (DataFrame, Long) => Unit): DataFrame = {
    def scratch(tag: String): String =
      Scratch.dir(spark, s"${prefix}_$tag", dir)
    val dropDir = scratch("drop"); val corpusDir = scratch("corpus")
    val ckpt = scratch("ckpt")
    val waves = (0 until 4).map { w =>
      frame.filter(pmod(col(key), lit(4L)) === w).coalesce(1)
        .write.parquet(s"$dropDir/wave$w")
      s"$dropDir/wave$w"
    }
    StreamTuning.stampArrivalOrder(spark, waves)
    StreamTuning.runToEnd(spark)(
      spark.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dropDir/wave*")
        .writeStream
        .foreachBatch(admit(corpusDir))
        .option("checkpointLocation", ckpt))
    // the batch dirs as listed paths: a `batch=*` glob makes the parquet
    // reader probe the pattern itself for a sink log and log its miss
    val corpus = new org.apache.hadoop.fs.Path(corpusDir)
    val batches = corpus.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(corpus).map(_.getPath).filter(_.getName.startsWith("batch="))
      .map(_.toString).sorted
    spark.read.schema(frame.schema).parquet(batches.toIndexedSeq: _*)
      .withColumn("wave", pmod(col(key), lit(4L)))
  }

  /** [[ingestWaves]] over the documents, with the per-wave census of the
    * exact and near-dup ingest oracle rows. */
  private def docIngestCensus(spark: SparkSession, dir: String, prefix: String)
                             (admit: String => (DataFrame, Long) => Unit): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"),
      col("source"), col("n_chars"))
    ingestWaves(spark, dir, prefix, d, "doc_id")(admit)
      .groupBy("wave").agg(
        count(lit(1)).as("n_admitted"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("wave")
  }

  /** Shared harness of the near-dup ingest oracle rows; `compactEvery` is
    * the only knob the compaction twin turns. */
  private def nearDupIngestRun(spark: SparkSession, dir: String,
                               prefix: String, compactEvery: Int): DataFrame =
    docIngestCensus(spark, dir, prefix)(corpusDir =>
      graft.streaming.NearDupIngest.admitLoop(
        "doc_id", "text", shingleK, jaccardThreshold, corpusDir, compactEvery))

  /** Shared harness of the semantic ingest oracle rows (the cosine twin
    * of [[nearDupIngestRun]] — embeddings instead of documents). */
  private def semDedupIngestRun(spark: SparkSession, dir: String,
                                prefix: String, compactEvery: Int): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"))
    ingestWaves(spark, dir, prefix, e, "vec_id")(corpusDir =>
      graft.streaming.SemDedupIngest.admitLoop(
        "vec_id", "embedding", semIngestThreshold, corpusDir,
        compactEvery = compactEvery))
      .groupBy("wave").agg(
        count(lit(1)).as("n_admitted"),
        sum(col("vec_id")).as("sum_vec"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"))
      .orderBy("wave")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- text analysis -------------------------------------------------
    "text_token_stats" -> ((spark, dir) => {
      val toks = T.tokens(col("text"))
      val n = size(toks)
      val total = length(regexp_replace(trim(col("text")), "\\s+", ""))
      docs(spark, dir).select(
        col("doc_id"),
        n.as("n_tokens"),
        size(array_distinct(toks)).as("n_uniq_tokens"),
        total.as("total_token_chars"),
        when(n === 0, 0.0).otherwise(
          round(total.cast("double") / n.cast("double"), 6)).as("mean_token_len"),
        when(n === 0, 0.0).otherwise(
          round(size(array_distinct(toks)).cast("double") / n.cast("double"), 6))
          .as("type_token_ratio"))
        .orderBy("doc_id")
    }),

    "text_lang_id" -> ((spark, dir) => {
      docs(spark, dir)
        .withColumn("lang_pred", T.langId(col("text")))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "lang_pred")
    }),

    "text_quality" -> ((spark, dir) => {
      docs(spark, dir).select(
        col("doc_id"),
        T.nTokens(col("text")).as("n_tokens"),
        round(T.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(T.nonAlnumRatio(col("text")), 6).as("non_alnum_ratio"),
        T.qualityScore(col("text")).as("quality_score"))
        .orderBy("doc_id")
    }),

    // PII redaction audit (TextAnalysis.scrubPii/piiCounts): the fixture
    // text is synthetic and PII-free, so the query plants deterministic
    // contact details per doc (identical construction in the oracle),
    // then counts and scrubs them. The operator under test is the
    // count + chained-redaction column library; the hash pins every
    // replacement byte-for-byte across engines.
    "text_pii_scrub" -> ((spark, dir) => {
      val planted = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com via 10."),
        pmod(col("doc_id"), lit(256L)).cast("string"), lit(".0."),
        (pmod(col("doc_id"), lit(254L)) + 1L).cast("string"),
        lit(" or +1555"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"))
      val (ne, ni, np) = T.piiCounts(planted)
      docs(spark, dir).select(
        col("doc_id"), ne.as("n_emails"), ni.as("n_ips"), np.as("n_phones"),
        T.hash60(T.scrubPii(planted)).as("scrub_hash"))
        .orderBy("doc_id")
    }),

    // HTML boilerplate stripping over deterministically-planted markup:
    // every doc is wrapped in a nav/title/entity shell, and the oracle
    // pins the extracted clean text byte-for-byte (via hash), the tag
    // count, and the text-to-markup ratio.
    "text_html_strip" -> ((spark, dir) => {
      val planted = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title></head><body><nav><a href=\"/home\">Home</a></nav><p>"),
        col("text"),
        lit("</p><p>&quot;fin&quot; &amp; &lt;done&gt;&nbsp;ok</p>"),
        lit("<div class=\"ad\">AD</div></body></html>"))
      docs(spark, dir).select(
        col("doc_id"),
        T.matchCount(planted, T.htmlTagPattern).cast("long").as("n_tags"),
        T.markupRatio(planted).as("markup_ratio"),
        T.hash60(T.stripHtml(planted)).as("clean_hash"))
        .orderBy("doc_id")
    }),

    // URL canonicalization + per-domain rollup (graft.corpus.Urls) over
    // deterministically-planted crawl URLs: host/registrable-domain
    // extraction, wholesale-query canonical form, tracking-param
    // detection — then the per-domain dedup numbers a crawl pipeline
    // feeds into mixing/blocklist decisions. Pure-projection extraction;
    // ONE shuffle keyed by domain for the rollup.
    "url_domain_stats" -> ((spark, dir) => {
      val U = graft.corpus.Urls
      docs(spark, dir)
        .select(col("doc_id"), synthUrl.as("url"))
        .select(col("doc_id"), col("url"),
          U.registrableDomain(U.host(col("url"))).as("domain"),
          U.canonicalize(col("url")).as("canon"),
          U.hasTracking(col("url")).cast("long").as("tracked"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canon")).as("n_unique_canonical"),
          sum(col("tracked")).as("n_with_tracking"))
        .orderBy("domain")
    }),

    // Per-domain document cap — the web-corpus curation step that stops
    // one mass-produced domain from dominating the training mixture:
    // keep at most N docs per registrable domain, preferring the
    // longest (n_chars desc, doc_id asc tie-break — deterministic on
    // both engines). Runs through the NATIVE TopKPerKey operator, so at
    // most N rows per domain per partition ever reach the shuffle and
    // nothing global-sorts — the same plan shape at 100 TB. Output: the
    // per-domain before/after census a curation report ships.
    "corpus_domain_cap" -> ((spark, dir) => {
      val U = graft.corpus.Urls
      val d = docs(spark, dir)
        .select(col("doc_id"), col("n_chars"), synthUrl.as("url"))
        .withColumn("domain", U.registrableDomain(U.host(col("url"))))
        .select("doc_id", "n_chars", "domain")
      val kept = graft.plans.TopK.perKey(d, Seq("domain"),
        Seq("n_chars" -> true, "doc_id" -> false), domainCapN)
      d.groupBy(col("domain"))
        .agg(count(lit(1)).as("n_total"), sum(col("n_chars")).as("total_chars"))
        .join(kept.groupBy(col("domain"))
          .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars")),
          Seq("domain"))
        .withColumn("n_dropped", col("n_total") - col("n_kept"))
        .orderBy("domain")
    }),

    "text_fingerprint" -> ((spark, dir) => {
      docs(spark, dir).select(
        col("doc_id"),
        T.rollingFingerprint(col("text"), 200).as("fp_rolling"),
        array_min(transform(T.shingles(col("text"), shingleK), s => T.hash60(s)))
          .as("fp_min_shingle"))
        .orderBy("doc_id")
    }),

    // BPE-family pre-tokenizer counts — the unit that budgets LLM
    // training data. Whitespace counts under-estimate punctuation/code;
    // side-by-side ratio makes the gap visible per doc.
    "text_bpe_tokens" -> ((spark, dir) => {
      val nb = T.bpeTokenCount(col("text"))
      val nw = T.nTokens(col("text"))
      docs(spark, dir).select(
        col("doc_id"),
        nb.as("n_bpe_tokens"),
        nw.as("n_ws_tokens"),
        when(nw === 0, 0.0).otherwise(
          round(nb.cast("double") / nw.cast("double"), 6)).as("bpe_per_word"))
        .orderBy("doc_id")
    }),

    // Vocabulary-coverage quality filter (graft.corpus.Vocab): the
    // deterministic sibling of perplexity filtering — per doc, the
    // fraction of token occurrences outside the corpus' top-30
    // vocabulary. Vocab is ≤30 rows by construction → broadcast join.
    "text_oov_rate" -> ((spark, dir) => {
      val d = docs(spark, dir)
      graft.corpus.Vocab.oovStats(d, "doc_id", "text",
          graft.corpus.Vocab.topK(d, "text", 30))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition signals — the quality filter near-dup
    // metrics don't cover: duplicate 2/3-gram fraction and duplicate
    // word fraction WITHIN a doc (boilerplate/looping-text detector).
    "text_repetition" -> ((spark, dir) => {
      def repRatio(grams: org.apache.spark.sql.Column) =
        when(size(grams) === 0, 0.0).otherwise(
          round(lit(1.0) - size(array_distinct(grams)).cast("double") /
            size(grams).cast("double"), 6))
      docs(spark, dir).select(
        col("doc_id"),
        repRatio(T.tokens(col("text"))).as("rep_word"),
        repRatio(T.kgrams(col("text"), 2)).as("rep_2gram"),
        repRatio(T.kgrams(col("text"), 3)).as("rep_3gram"))
        .orderBy("doc_id")
    }),

    // Exact phrase search (Search.phraseSearch): positional postings
    // chained on anchor position — the order-sensitive retrieval BM25's
    // bag-of-words cannot express. Two phrases (a frequent bigram and a
    // rare trigram) exercise both selectivity regimes.
    "search_phrase" -> ((spark, dir) => {
      val d = docs(spark, dir)
      Seq("value table", "query key scan").map { ph =>
        graft.corpus.Search.phraseSearch(d, "doc_id", "text",
            ph.split(" ").toIndexedSeq)
          .withColumn("phrase", lit(ph))
      }.reduce(_ unionByName _)
        .select(col("phrase"), col("doc_id"), col("n_occ"))
        .orderBy("phrase", "doc_id")
    }),

    // Encoding-anomaly census (pre-language-ID hygiene gate): the
    // fixture text is clean ASCII, so the query PLANTS deterministic
    // mojibake — UTF-8-as-Latin-1 'Ã©' pairs on doc_id % 4 == 0, U+FFFD
    // replacement chars on doc_id % 7 == 0, counts varying per doc —
    // with the identical construction in the oracle (chr()-built there,
    // so the SQL wire stays ASCII). The operator under test is the
    // TextAnalysis counter trio + the ratio/flag algebra.
    "text_mojibake" -> ((spark, dir) => {
      val planted = concat(col("text"),
        when(pmod(col("doc_id"), lit(4L)) === 0,
          concat(lit(" caf"), call_function("repeat", lit("Ã©"),
            (pmod(col("doc_id"), lit(3L)) + 1).cast("int"))))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7L)) === 0,
          concat(lit(" "), call_function("repeat", lit("�"),
            (pmod(col("doc_id"), lit(2L)) + 1).cast("int"))))
          .otherwise(lit("")))
      val nRepl = T.replacementCharCount(planted)
      val nMoji = T.mojibakePairCount(planted)
      val nNonAscii = T.nonAsciiCount(planted)
      docs(spark, dir).select(
        col("doc_id"),
        nRepl.as("n_replacement"),
        nMoji.as("n_mojibake"),
        nNonAscii.as("n_nonascii"),
        when(length(planted) === 0, 1.0).otherwise(
          round((length(planted) - nNonAscii).cast("double") /
            length(planted).cast("double"), 6)).as("ascii_ratio"),
        when(nRepl > 0 || nMoji > 0, 1L).otherwise(0L).as("suspect"))
        .orderBy("doc_id")
    }),

    // Winnowing fingerprints (Dedup.winnowFingerprints — the MOSS
    // selection rule): per doc, the distinct window-min gram hashes plus
    // a set digest, so two corpus versions can diff fingerprint sets
    // without re-reading text. n_grams counts ALL k-gram windows (the
    // selection's denominator); docs under k tokens fingerprint to the
    // empty-set digest via the left join.
    "corpus_winnow" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val per = Dedup.winnowFingerprints(d, "doc_id", "text", shingleK, winnowW)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fps"),
          T.hash60(array_join(transform(sort_array(collect_list(col("fp"))),
            x => x.cast("string")), ",")).as("fp_set_hash"))
      d.select(col("doc_id"),
          greatest(lit(0), size(T.tokens(col("text"))) - (shingleK - 1))
            .cast("long").as("n_grams"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_fps"), lit(0L)).as("n_fps"),
          coalesce(col("fp_set_hash"), T.hash60(lit(""))).as("fp_set_hash"))
        .orderBy("doc_id")
    }),

    // Winnowing as a detector: doc pairs sharing >= 2 selected
    // fingerprints — the cheap cross-version / cross-doc overlap scan
    // the fingerprint artifact exists for (MOSS's match step). The df
    // cap drops boilerplate fingerprints before they can fan out df²
    // pairs — the same hot-key bound as the exact jaccard postings
    // join, shared knob and all.
    "corpus_winnow_overlap" -> ((spark, dir) => {
      // EAGER checkpoint after the fp repartition (r21): the winnow
      // pipeline (posexplode + two window sorts + distinct) feeds the df
      // census, the cap join, AND both self-join sides, and the join's
      // pushed-down isnotnull filters break exchange-reuse identity — the
      // static plan duplicated the whole pipeline 3x. The checkpoint pins
      // it once: the win is pipeline dedup (after-plan: 0 Window/
      // posexplode nodes vs 20, 14 Exchanges vs 34 — plans/r21/). Catalyst
      // drops the checkpoint's fp-partitioning (Scan ExistingRDD reports
      // unknown partitioning), so the census groupBy and the self-join
      // still re-shuffle above it; those exchanges are the retained cost,
      // paid on the deduped 1x pipeline. Interleaved min-of-3 warm A/B at
      // sf0.1/local[32]: 1.84 s vs 2.30 s (new wins every pair: 2.01/2.30,
      // 1.84/2.73, 2.41/3.11); 500k-doc probe 32.7 → 8.9/10.7 s.
      val fps = Dedup.winnowFingerprints(docs(spark, dir), "doc_id", "text",
          shingleK, winnowW)
        .repartition(col("fp"))
        .localCheckpoint(true)
      val dfc = fps.groupBy(col("fp")).agg(count(col("doc_id")).as("df"))
      val fk = fps.join(dfc, Seq("fp")).filter(col("df") <= maxShingleDf)
        .select(col("fp"), col("doc_id"))
      fk.select(col("fp"), col("doc_id").as("d1"))
        .join(fk.select(col("fp"), col("doc_id").as("d2")), Seq("fp"))
        .filter(col("d1") < col("d2"))
        .groupBy(col("d1"), col("d2"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy("d1", "d2")
    }),

    // Per-source quality floor (rank-based percentile trim): keep the
    // best 75% of docs per source by the fixed-point quality score —
    // the curation rule "drop each domain's worst quartile" that a
    // cross-domain absolute threshold can't express (a uniformly-noisy
    // source would pass everything or nothing). Rank-based, so the
    // floor needs no percentile interpolation semantics to match across
    // engines; ceil(0.75 n) = (3n + 3) div 4 in integer math.
    "corpus_quality_floor" -> ((spark, dir) => {
      // both window functions share ONE spec (same partition, order,
      // unbounded frame) → one Window operator, one source-keyed sort;
      // the narrow pre-select keeps the wide text column out of it
      val w = Window.partitionBy(col("source"))
        .orderBy(col("qfp").desc, col("doc_id"))
      val scored = docs(spark, dir).select(
        col("doc_id"), col("source"), col("n_chars"),
        round(T.qualityScore(col("text")) * 1000000, 0).cast("long").as("qfp"))
      scored
        .withColumn("n_src", count(lit(1)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= expr("(n_src * 3 + 3) div 4"))
        .groupBy(col("source"))
        .agg(min(col("n_src")).as("n_total"),
          count(lit(1)).as("n_kept"),
          min(col("qfp")).as("floor_qfp"),
          sum(col("n_chars")).as("chars_kept"))
        .orderBy("source")
    }),

    // Deterministic stratified sampling (post-dedup mixture step):
    // even-indexed sources keep 50%, odd keep 20% — reproducible row
    // selection via the portable hash, no RNG anywhere.
    "corpus_sample_stratified" -> ((spark, dir) => {
      val rates = (0 until 10).map(i =>
        s"src$i" -> (if (i % 2 == 0) 50 else 20)).toMap
      Dedup.stratifiedSample(docs(spark, dir), "doc_id", "source",
          rates, defaultPct = 10, salt = "mix1")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("source")
    }),

    // Budgeted quality selection: per source, admit best-quality docs
    // until a 5000-char budget fills — the curation step between quality
    // scoring and mixing.
    "corpus_select_budget" -> ((spark, dir) => {
      val scored = docs(spark, dir)
        .withColumn("q", T.qualityScore(col("text")))
      graft.corpus.Packing.selectWithinBudget(scored, "source", "doc_id",
          col("q"), col("n_chars"), budget = 5000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_selected"),
          sum(col("n_chars")).as("chars_selected"),
          round(min(col("q")), 6).as("worst_quality_kept"))
        .orderBy("source")
    }),

    // Doc → overlapping fixed-length token chunks (size 32, stride 24):
    // the training-example split; chunks surface as portable hashes.
    "corpus_chunk" -> ((spark, dir) => {
      graft.corpus.Packing.chunk(docs(spark, dir), "doc_id", "text",
          chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")
    }),

    // Concat-then-chunk packing into 512-token bins, per source: where
    // each doc lands in the training-sequence stream.
    "corpus_pack" -> ((spark, dir) => {
      val withN = docs(spark, dir)
        .select(col("doc_id"), col("source"), T.nTokens(col("text")).as("n_tokens"))
      graft.corpus.Packing.packOffsets(withN, "source", "doc_id",
          col("n_tokens"), binSize = 512)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("start_off"), col("start_bin"), col("bins_spanned"))
        .orderBy("source", "doc_id")
    }),

    // The kept corpus after near-dup clustering: every doc minus
    // non-canonical cluster members — what actually ships to training.
    // Reads the materialized cluster artifact (clustersArtifact): the
    // chain behind it is computed once per corpus version, not re-derived
    // per consumer.
    "dedup_keep" -> ((spark, dir) => {
      val d = docs(spark, dir)
      Dedup.survivors(d, "doc_id", clustersArtifact(spark, dir))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("kept_chars"))
        .orderBy("source")
    }),

    // ---- dedup ---------------------------------------------------------
    "dedup_exact" -> ((spark, dir) => {
      Dedup.exactDupSummary(docs(spark, dir), "text", "source")
        .orderBy("source")
    }),

    "dedup_ngram_jaccard" -> ((spark, dir) => {
      Dedup.jaccardPairs(docs(spark, dir), "doc_id", "text", shingleK, jaccardThreshold)
        .orderBy("d1", "d2")
    }),

    // Triangle/wedge census over the near-dup pair graph — the
    // transitivity check behind cluster-based dedup: min-id
    // canonicalization treats near-duplication as (approximately)
    // transitive, and a LOW clustering coefficient here means chains of
    // barely-similar docs are being glued into one survivor (the
    // false-merge failure mode). Triangles via the oriented
    // edge-iterator join (a<b<c, each counted once — O(Σdeg²) candidate
    // paths, all equi-joins); wedges from the degree table.
    "dedup_transitivity" -> ((spark, dir) => {
      // edges come from the materialized near-dup artifact (the same
      // compute-once table the dedup_clusters trio reads) — the census
      // is a read-side consumer, never a fifth run of the postings
      // pipeline. The eager checkpoint pins the (tiny) edge frame once
      // for the census's five concurrent consumer branches; a lazy one
      // races its own materialization (measured 89 s vs 39 s at the
      // 500k-doc probe when the pairs pipeline ran inline).
      Dedup.transitivityCensus(
        Dedup.pairsTable(docs(spark, dir), "doc_id", "text",
            shingleK, jaccardThreshold, clustersArtifactPath(spark, dir))
          .select(col("d1"), col("d2")).localCheckpoint(true))
    }),

    // Asymmetric containment: the quote-inclusion pairs symmetric
    // Jaccard misses (short doc embedded in a long one).
    "dedup_containment" -> ((spark, dir) => {
      Dedup.containmentPairs(docs(spark, dir), "doc_id", "text",
          shingleK, containmentThreshold)
        .orderBy("d1", "d2")
    }),

    // Exact dedup over NORMALIZED text (lowercase, punctuation stripped,
    // whitespace collapsed) vs raw bytes — the gap per source is the
    // trivial-reformat duplicate mass byte-exact dedup misses.
    "dedup_exact_normalized" -> ((spark, dir) => {
      docs(spark, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique_raw"),
          countDistinct(md5(T.normalizeText(col("text")))).as("n_unique_norm"))
        .orderBy("source")
    }),

    "dedup_minhash_lsh" -> ((spark, dir) => {
      Dedup.minhashLshPairs(docs(spark, dir), "doc_id", "text",
        shingleK, numHashes, rowsPerBand, jaccardThreshold)
        .orderBy("d1", "d2")
    }),

    // LSH parameter diagnostics (Dedup.lshEval): band-collision
    // candidates vs the exact-Jaccard truth as one precision/recall row
    // — the tuning artifact behind the banding knobs. Runs on the
    // deterministic mod-N doc sample (both legs), the shape that stays
    // runnable at full corpus scale.
    "dedup_lsh_eval" -> ((spark, dir) => {
      Dedup.lshEval(docs(spark, dir), "doc_id", "text",
        shingleK, numHashes, rowsPerBand, jaccardThreshold,
        lshEvalSampleMod)
    }),

    // Within- vs cross-source duplication split — WHERE the near-dups
    // come from: intra-feed pairs mean a feed re-publishes itself,
    // cross-feed pairs mean two sources mirror each other (different
    // upstream fixes). Read-side consumer of the pairs artifact; two
    // broadcast doc→source lookups; share in integer bps.
    "dedup_within_cross_source" -> ((spark, dir) => {
      val src = docs(spark, dir).select(col("doc_id"), col("source"))
      val pairs = Dedup.pairsTable(docs(spark, dir), "doc_id", "text",
          shingleK, jaccardThreshold, clustersArtifactPath(spark, dir))
        .select(col("d1"), col("d2"))
      pairs
        .join(broadcast(src.select(col("doc_id").as("d1"),
          col("source").as("src1"))), Seq("d1"))
        .join(broadcast(src.select(col("doc_id").as("d2"),
          col("source").as("src2"))), Seq("d2"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("src1") === col("src2"), 1L).otherwise(0L))
            .as("n_within_source"),
          sum(when(col("src1") =!= col("src2"), 1L).otherwise(0L))
            .as("n_cross_source"))
        .withColumn("within_bps",
          expr("n_within_source * 10000L div greatest(n_pairs, 1L)"))
    }),

    // Method-agreement census between the two signature-based near-dup
    // detectors — the validation table that says whether MinHash-LSH
    // (set similarity) and SimHash (weighted-bit similarity) are seeing
    // the same duplicates on THIS corpus, or one family is blind to a
    // class the other catches. Full-outer join of the two pair sets;
    // agreement as exact integer millionths of the union.
    "dedup_method_agreement" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val mh = Dedup.minhashLshPairs(d, "doc_id", "text",
          shingleK, numHashes, rowsPerBand, jaccardThreshold)
        .select(col("d1"), col("d2")).withColumn("in_mh", lit(1))
      val sh = Dedup.simhashPairs(d, "doc_id", "text", simhashMaxHamming)
        .select(col("d1"), col("d2")).withColumn("in_sh", lit(1))
      mh.join(sh, Seq("d1", "d2"), "full_outer")
        .agg(
          sum(when(col("in_mh").isNotNull && col("in_sh").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("in_mh").isNotNull && col("in_sh").isNull, 1L)
            .otherwise(0L)).as("n_minhash_only"),
          sum(when(col("in_mh").isNull && col("in_sh").isNotNull, 1L)
            .otherwise(0L)).as("n_simhash_only"),
          count(lit(1)).as("n_union"))
        .withColumn("agreement_fp6",
          expr("n_both * 1000000L div greatest(n_union, 1L)"))
    }),

    // aHash vs pHash pair-set census — the multimodal twin of
    // dedup_method_agreement: do the brightness-keyed (aHash) and
    // structure-keyed (pHash) perceptual hashes see the same byte-level
    // near-dups on THIS corpus? High ahash_only mass = intensity-shift
    // false positives; high phash_only = aHash missing structural
    // matches. Full-outer join of two already-linear pair pipelines.
    "mm_hash_agreement" -> ((spark, dir) => {
      val media = Multimodal.withPayload(docs(spark, dir))
      val ah = Multimodal.ahashNearDup(media, ahashMaxHamming, ahashBits)
        .select(col("d1"), col("d2")).withColumn("in_ah", lit(1))
      val ph = Multimodal.phashNearDup(media, phashMaxHamming)
        .select(col("d1"), col("d2")).withColumn("in_ph", lit(1))
      ah.join(ph, Seq("d1", "d2"), "full_outer")
        .agg(
          sum(when(col("in_ah").isNotNull && col("in_ph").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("in_ah").isNotNull && col("in_ph").isNull, 1L)
            .otherwise(0L)).as("n_ahash_only"),
          sum(when(col("in_ah").isNull && col("in_ph").isNotNull, 1L)
            .otherwise(0L)).as("n_phash_only"),
          count(lit(1)).as("n_union"))
        .withColumn("agreement_fp6",
          expr("n_both * 1000000L div greatest(n_union, 1L)"))
    }),

    // Source-overlap similarity matrix — dataset-lineage detection at
    // SOURCE grain: shingle-set Jaccard between every source pair
    // (two crawls of the same sites light up immediately). The heavy
    // object is the distinct (source, shingle) frame — one exchange;
    // the pair expansion is per-shingle sources² (≤ |sources|²
    // constant), so the join output is linear in vocabulary at any
    // corpus size. Jaccard in integer millionths.
    "corpus_source_overlap" -> ((spark, dir) => {
      val ss = Dedup.shinglePostings(docs(spark, dir)
            .withColumnRenamed("source", "src"),
          "src", "text", shingleK)
        .select(col("doc_id").as("src"), col("shingle")).distinct()
        .localCheckpoint(false)
      val sizes = ss.groupBy(col("src")).agg(count(lit(1)).as("n"))
      val common = ss.as("a").join(ss.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.src") < col("b.src"))
        .groupBy(col("a.src").as("s1"), col("b.src").as("s2"))
        .agg(count(lit(1)).as("n_common"))
      common
        .join(broadcast(sizes.select(col("src").as("s1"), col("n").as("n1"))),
          Seq("s1"))
        .join(broadcast(sizes.select(col("src").as("s2"), col("n").as("n2"))),
          Seq("s2"))
        .select(col("s1"), col("s2"), col("n1"), col("n2"), col("n_common"),
          expr("n_common * 1000000L div (n1 + n2 - n_common)")
            .as("jaccard_fp6"))
        .orderBy("s1", "s2")
    }),

    // Jaccard-threshold sensitivity sweep — the OTHER dedup tuning
    // curve: pair volume and affected-doc count at each candidate
    // threshold, from ONE pair computation at the lowest point (the
    // PPJoin pruning is lossless at its given threshold, so pairs@0.5
    // is a superset of every higher point). Says how aggressive the
    // dedup can get before it starts merging distinct docs wholesale.
    "dedup_threshold_sweep" -> ((spark, dir) => {
      // LAZY checkpoint, measured r21: the four threshold branches
      // materialize concurrently under AQE and the lazy checkpoint lets
      // them overlap (block-level locks prevent duplicate compute); the
      // eager variant serializes the materialization waves and measured
      // 3.38 s vs 2.16 s warm — opposite of dedup_transitivity, whose 5
      // branches each re-ran a 3-pass pipeline
      val pairs = Dedup.jaccardPairs(docs(spark, dir), "doc_id", "text",
          shingleK, sweepBaseThreshold)
        .localCheckpoint(false)
      sweepThresholds.map { t =>
        val p = pairs.filter(col("jaccard") >= t)
        p.agg(count(lit(1)).as("n_pairs"))
          .crossJoin(
            p.select(col("d1").as("d")).unionAll(p.select(col("d2").as("d")))
              .agg(countDistinct(col("d")).as("n_docs_in_pairs")))
          .select(lit(t).as("threshold"), col("n_pairs"),
            col("n_docs_in_pairs"))
      }.reduce(_ unionByName _).orderBy("threshold")
    }),

    // Banding parameter sweep (Dedup.lshSweep): the full (b, r) tuning
    // curve from ONE shared signature frame and ONE exact-truth frame —
    // raising rowsPerBand trades recall for precision; this table is
    // how the production design point (b=4, r=3) gets defended. Same
    // deterministic doc sample as dedup_lsh_eval.
    "dedup_lsh_sweep" -> ((spark, dir) => {
      Dedup.lshSweep(docs(spark, dir), "doc_id", "text",
        shingleK, numHashes, lshSweepConfigs, jaccardThreshold,
        lshEvalSampleMod)
    }),

    // near-dup pairs → connected components → canonical survivor per
    // cluster (min doc_id): the operation an LLM-corpus dedup ends with.
    // This query BUILDS the materialized artifact when absent (the once-
    // per-corpus-version cost); dedup_keep/dedup_keep_best read it.
    "dedup_clusters" -> ((spark, dir) =>
      clustersArtifact(spark, dir).orderBy("doc_id")),

    // Cluster-size histogram over the materialized artifact — the
    // corpus-card number that says whether duplication is pairwise noise
    // or boilerplate blow-ups (a size-40 cluster is a template, not an
    // accident).
    "dedup_cluster_sizes" -> ((spark, dir) => {
      clustersArtifact(spark, dir)
        .groupBy(col("canonical_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    }),

    // Dedup-aware train/val/test split (Dedup.leakageFreeSplit): split
    // keyed by the near-dup CLUSTER canonical, so no cluster ever
    // straddles a split boundary — the leakage failure mode raw-id
    // splits have. n_leaky_clusters is recomputed from the assignment
    // (not a constant) on both engines and must be 0.
    "corpus_split" -> ((spark, dir) => {
      val s = Dedup.leakageFreeSplit(docs(spark, dir), "doc_id",
        clustersArtifact(spark, dir), trainPct, valPct, splitSalt)
      val leak = s.groupBy(col("canon"))
        .agg(countDistinct(col("split")).as("ns"))
        .agg(coalesce(sum(when(col("ns") > 1, 1L).otherwise(0L)), lit(0L))
          .as("n_leaky_clusters"))
      s.groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canon")).as("n_groups"),
          sum(col("n_chars")).as("split_chars"))
        .crossJoin(broadcast(leak))
        .orderBy("source", "split")
    }),

    "dedup_simhash" -> ((spark, dir) => {
      Dedup.simhashPairs(docs(spark, dir), "doc_id", "text", simhashMaxHamming)
        .orderBy("d1", "d2")
    }),

    // Substring-level duplication (Lee et al. 2022): per-doc count and
    // ratio of w-token windows whose exact text recurs anywhere in the
    // corpus — the mass a span-level deduper would cut, which doc-level
    // dedup (exact/minhash/jaccard above) cannot see when two otherwise
    // distinct docs share one boilerplate paragraph.
    "dedup_repeated_spans" -> ((spark, dir) => {
      Dedup.repeatedSpanStats(docs(spark, dir), "doc_id", "text", spanW)
        .orderBy("doc_id")
    }),

    // Corpus snapshot diff (Dedup.snapshotDiff): the weekly-reship
    // delta. prev/curr are carved deterministically from the one
    // fixture — prev drops every 7th doc and appends an edit marker to
    // every 5th, curr drops every 11th — so all four statuses occur and
    // DuckDB reconstructs the identical snapshots.
    "corpus_diff" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val prev = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val curr = d.filter(col("doc_id") % 11 =!= 0)
      Dedup.snapshotDiff(prev, curr, "doc_id", "text")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("status")
    }),

    // Tokenizer-training step (vocab induction): the BPE merge-pair
    // statistic — for every adjacent character pair inside a word, its
    // corpus-weighted frequency; the top pair is what a BPE trainer
    // would merge next. Scale shape is the standard one: aggregate the
    // WORD-FREQUENCY dictionary first (vocabulary-bounded), then
    // explode character pairs over unique words only — the pair pass
    // never touches corpus-sized data. Deterministic cut (n desc,
    // pair asc); alphabetic words only so the pair alphabet is clean.
    // BPE merge-rule TRAINING (Vocab.bpeMerges): the first N merge
    // rules learned over the corpus word-frequency table — the ordered
    // artifact a tokenizer ships, where vocab_bpe_pairs below is the
    // single pair-statistic step. Distributed word counting; the merge
    // loop runs on the vocabulary-bounded dictionary (gated collect,
    // the PQ-training pattern). The DuckDB twin replays all N
    // iterations as generated CTE chains with byte-identical
    // replace-merge semantics.
    "vocab_bpe_merges" -> ((spark, dir) =>
      graft.corpus.Vocab.bpeMerges(docs(spark, dir), "text", bpeTrainMerges)
        .orderBy("rank")),

    // The trained tokenizer APPLIED: per doc, trainable-word count and
    // subword-token count under the learned merge rules (fixed-point
    // tokens/word ratio) — the application side of vocab_bpe_merges.
    // The segmentation table is vocabulary-bounded and broadcasts; the
    // corpus-side work is one token explode + broadcast join, linear at
    // any scale.
    "text_bpe_apply" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val seg = graft.corpus.Vocab.bpeSegmentations(d, "text", bpeTrainMerges)
      val dw = Dedup.fanout(d.select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(T.tokens(lower(col("text")))).as("word"))
        .filter(col("word").rlike("^[a-z0-9]+$") &&
          length(col("word")) <= graft.corpus.Vocab.bpeMaxWordLen)
      val per = dw.join(broadcast(seg), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
      d.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_subwords"), lit(0L)).as("n_subwords"),
          when(coalesce(col("n_words"), lit(0L)) === 0, 0L)
            .otherwise(expr("(n_subwords * 1000000) div n_words"))
            .as("subwords_per_word_fp"))
        .orderBy("doc_id")
    }),

    "vocab_bpe_pairs" -> ((spark, dir) => {
      // fanout: the token explode is scan-stage compute; a few-file
      // corpus (every local fixture) would otherwise run it on one core
      // (no-op at real corpus file counts — see Dedup.fanout)
      val words = Dedup.fanout(docs(spark, dir).select(col("text")))
        .select(explode(T.tokens(col("text"))).as("w"))
        .select(lower(col("w")).as("w"))
        .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("wf"))
      words
        .select(col("wf"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("wf")).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(20)
    }),

    // Snapshot drift census: the distribution sibling of corpus_diff —
    // per source, did the corpus SHAPE move between versions, not just
    // which ids changed? Doc/token totals for both snapshots plus an L1
    // distance over 10 fixed-point quality buckets (bucket = qfp div
    // 100000, clamped; pure integers end-to-end, so the drift stat is
    // hash-gate exact where a KL/PSI's ln() could not be). Scale: one
    // (source, bucket)-keyed agg per side (≤ 10·sources rows), then a
    // bucket-aligned full-outer join of two tiny frames.
    "corpus_drift" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val prev = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val curr = d.filter(col("doc_id") % 11 =!= 0)
      // fanout: the fixed-point quality score is several regex passes
      // per doc in the scan stage — serialized on a few-file corpus
      // without the re-spread (no-op at real corpus file counts)
      def hist(df: org.apache.spark.sql.DataFrame) = Dedup.fanout(df)
        .withColumn("n_toks", T.nTokens(col("text")).cast("long"))
        .withColumn("qfp",
          round(T.qualityScore(col("text")) * 1000000, 0).cast("long"))
        .withColumn("qb", least(expr("qfp div 100000"), lit(9L)))
        .groupBy(col("source"), col("qb"))
        .agg(count(lit(1)).as("n"), sum(col("n_toks")).as("toks"))
      val hp = hist(prev).withColumnRenamed("n", "n_p")
        .withColumnRenamed("toks", "toks_p")
      val hc = hist(curr).withColumnRenamed("n", "n_c")
        .withColumnRenamed("toks", "toks_c")
      hp.join(hc, Seq("source", "qb"), "full_outer")
        .select(col("source"),
          coalesce(col("n_p"), lit(0L)).as("n_p"),
          coalesce(col("n_c"), lit(0L)).as("n_c"),
          coalesce(col("toks_p"), lit(0L)).as("toks_p"),
          coalesce(col("toks_c"), lit(0L)).as("toks_c"))
        .groupBy(col("source"))
        .agg(sum(col("n_p")).as("n_prev"), sum(col("n_c")).as("n_curr"),
          sum(col("toks_p")).as("toks_prev"),
          sum(col("toks_c")).as("toks_curr"),
          sum(abs(col("n_p") - col("n_c"))).as("hist_l1"))
        .orderBy("source")
    }),

    // Embedding snapshot drift (the embedding-space twin of
    // corpus_drift): per label, member counts and the L1 centroid shift
    // between two corpus "versions" (vec_id parity stands in for the
    // snapshot split). Each side's per-dim centroid is a fixed-point
    // FLOOR mean — floor(s/n) via the exact integer identity
    // (s − pmod(s, n)) / n, identical bit-for-bit on both engines —
    // so the shift sum(|m1 − m2|) stays in integer math with values
    // bounded by 2·2²⁰ per dim regardless of member count (the
    // cross-multiplied |s1·n2 − s2·n1| form would overflow long at
    // ~3M members per label: |s| ≤ n·2²⁰, so s·n ≤ n²·2²⁰). The whole
    // census is one (label, dim) agg + one label rollup. The
    // embedding-refresh monitoring step: a retrained encoder that
    // moves a cluster's centroid invalidates that cluster's ANN
    // artifacts.
    "emb_drift" -> ((spark, dir) => {
      val comp = emb(spark, dir)
        .select(col("label"), (col("vec_id") % 2 === 0).as("v1"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("xi",
          round(col("x").cast("double") * 1048576.0, 0).cast("long"))
      comp.groupBy(col("label"), col("pos"))
        .agg(sum(when(col("v1"), col("xi")).otherwise(0L)).as("s1"),
          sum(when(!col("v1"), col("xi")).otherwise(0L)).as("s2"),
          sum(when(col("v1"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("v1"), 1L).otherwise(0L)).as("n2"))
        .withColumn("m1", expr("CASE WHEN n1 = 0 THEN 0 " +
          "ELSE (s1 - pmod(s1, n1)) div n1 END"))
        .withColumn("m2", expr("CASE WHEN n2 = 0 THEN 0 " +
          "ELSE (s2 - pmod(s2, n2)) div n2 END"))
        .groupBy(col("label"))
        .agg(max(col("n1")).as("n_v1"), max(col("n2")).as("n_v2"),
          expr("""CASE WHEN max(n1) * max(n2) = 0 THEN 0
                  ELSE sum(abs(m1 - m2))
                  END""").as("l1_shift_fp"))
        .orderBy("label")
    }),

    // Corpus-wide boilerplate census: topN most-repeated spans with
    // occurrence and doc counts — the review artifact behind a span
    // drop-list (deterministic cut: occ desc, span asc).
    "corpus_boilerplate" -> ((spark, dir) => {
      Dedup.boilerplateSpans(docs(spark, dir), "doc_id", "text",
        spanW, boilerplateTopN)
    }),

    // Incremental-ingest dedup (Dedup.incrementalPairs): the new BATCH
    // (doc_id ≡ 4 mod 5 — a fifth of the corpus, standing in for today's
    // crawl) deduped against the existing STORE without re-pairing the
    // store against itself. Per batch doc: how many store near-dups it
    // hit, the best Jaccard, and the admission verdict. At scale the
    // store postings are a persisted shingle-bucketed table — ingest
    // work is O(batch), not O(corpus).
    "dedup_incremental" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val isBatch = col("doc_id") % 5 === 4
      val pairs = Dedup.incrementalPairs(d.filter(!isBatch), d.filter(isBatch),
        "doc_id", "text", shingleK, jaccardThreshold)
      val per = pairs.groupBy(col("batch_id").as("doc_id"))
        .agg(count(lit(1)).as("n_store_dups"), max(col("jaccard")).as("best_jaccard"))
      d.filter(isBatch).select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_store_dups"), lit(0L)).as("n_store_dups"),
          coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
          when(col("n_store_dups").isNull, 1L).otherwise(0L).as("admitted"))
        .orderBy("doc_id")
    }),

    // Quality-aware survivor selection: same near-dup clusters as
    // dedup_clusters, but the kept doc per cluster is the HIGHEST-
    // QUALITY member (ties → smallest doc_id), not the smallest id —
    // what a production dedup actually keeps when members differ (the
    // clean original vs the ad-wrapped scrape). One row per cluster.
    "dedup_keep_best" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val members = clustersArtifact(spark, dir).join(
        d.select(col("doc_id"), T.qualityScore(col("text")).as("q")), Seq("doc_id"))
      val w = Window.partitionBy(col("canonical_id"))
        .orderBy(col("q").desc, col("doc_id").asc)
      members.withColumn("rn", row_number().over(w))
        .groupBy(col("canonical_id"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rn") === 1, col("doc_id"))).as("kept_doc_id"),
          max(when(col("rn") === 1, col("q"))).as("best_quality"))
        .orderBy("canonical_id")
    }),

    "dedup_embedding_cosine" -> ((spark, dir) => {
      Similarity.nearDupPairs(emb(spark, dir), "vec_id", "embedding", cosineThreshold)
        .orderBy("v1", "v2")
    }),

    // LSH scale path for embedding near-dup: 4 SRP tables × 4 bits,
    // candidates from bucket collisions, exact-cosine verification.
    // Hyperplanes are driver-generated constants inlined into BOTH plans.
    "dedup_embedding_lsh" -> ((spark, dir) => {
      Similarity.srpNearDupPairs(emb(spark, dir), "vec_id", "embedding",
        srpPlanesConst, srpPlanesPerTable, cosineThreshold)
        .orderBy("v1", "v2")
    }),

    // SQ8-quantized ANN: int8 codes, exact integer scoring — the
    // compressed-vector path (4× less scan/shuffle volume at 100 TB).
    "ann_topk_sq8" -> ((spark, dir) => {
      Similarity.sq8TopK(emb(spark, dir), "vec_id", "embedding",
        col("vec_id") % annQueryStride === 0, annK)
        .orderBy("query_id", "rank")
    }),

    // ---- similarity search ---------------------------------------------
    "ann_topk_brute" -> ((spark, dir) => {
      Similarity.bruteForceTopK(emb(spark, dir), "vec_id", "embedding",
        col("vec_id") % annQueryStride === 0, annK)
        .orderBy("query_id", "rank")
    }),

    "ann_topk_ivf" -> ((spark, dir) => {
      Similarity.ivfTopK(emb(spark, dir), "vec_id", "embedding", "label",
        col("vec_id") % annQueryStride === 0, annK)
        .orderBy("query_id", "rank")
    }),

    // Multi-probe IVF under the ORACLE gate — the k-means-quantizer
    // scale path of ANN (FAISS nprobe), made end-to-end deterministic:
    // coarse centroids are per-label component MEANS built from exact
    // fixed-point integer sums (order-independent, so both engines get
    // bit-identical centroids), the data side is assigned its nearest
    // centroid by the sequential-fold double distance (NearestCentroidF's
    // loop ≡ DuckDB list_reduce in index order, ties → lower id), and
    // each query fans to its nprobe=3 nearest cells. The driver collects
    // only labels·dim aggregated sums (the PQ-training pattern), never
    // corpus rows.
    "ann_topk_ivf_probes" -> ((spark, dir) => {
      val e = emb(spark, dir)
      Similarity.ivfTopKProbes(e, "vec_id", "embedding", trainedCentroids(e), 3,
        col("vec_id") % annQueryStride === 0, annK)
        .orderBy("query_id", "rank")
    }),

    // ANN quality report — the diagnostic that justifies shipping an
    // approximate index (the ANN twin of dedup_lsh_eval): recall@k of
    // the IVF cell scan and the multi-probe variant against the exact
    // brute-force truth, one row per method. Everything is
    // deterministic (exact-cosine tie-breaks, integer-trained
    // centroids), so the DuckDB twin reproduces the identical top-k
    // sets and the recall hashes bit-for-bit. Scale: truth is k rows
    // per PROBE QUERY (the stride-sampled query set, not the corpus),
    // so the report stays runnable at any corpus size — the sampling
    // stance lshEval takes for its truth leg.
    "ann_recall_report" -> ((spark, dir) => {
      val e = emb(spark, dir)
      val qPred = col("vec_id") % annQueryStride === 0
      val pair = (d: DataFrame) => d.select(col("query_id"), col("neighbor_id"))
      // The truth and the four index legs are INDEPENDENT pipelines
      // (each trains its own model exactly once — PQ's codebooks, SQ8's
      // codes, the integer-mean quantizer); what made the report ~4 s
      // was not redundant compute but serialized job-scheduling latency:
      // ~20 short driver-side actions (Lloyd rounds, seed collects, leg
      // materializations) queued one after another. Materializing all
      // five concurrently overlaps those latencies — the standard FAIR-
      // scheduler shape for independent report sections on a cluster —
      // while each leg's frame (and so the output hash) is untouched;
      // the report aggregates join the checkpointed results afterwards.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.DurationInt
      // r22 (VERDICT item 7): pin the stride-sampled query frame ONCE
      // (eager — the r21 lshSweep lesson forbids broadcasting lazy
      // checkpoints; bounded at |corpus|/stride rows) and pass it to all
      // five legs, which otherwise each re-scan the corpus for their
      // query side — a modulo predicate can never prune row-groups, so
      // at scale that is five full passes for one stride sample. Results
      // identical (SimilaritySpec "queryRows pre-materialization").
      // Two-scale A/B: sf0.1 wash over 4 interleaved pairs (3.05/3.05,
      // 3.04/3.09, 2.73/2.73, 3.05/3.20); sf1 200k-vector probe -4%
      // mean, pinned wins 5 of 6 passes (45.5/50.0, 51.6/53.4,
      // 54.2/53.5).
      val qRows = Some(e.filter(qPred).localCheckpoint(true))
      val bruteFut = Future(
        pair(Similarity.bruteForceTopK(e, "vec_id", "embedding", qPred, annK,
          qRows))
          .localCheckpoint())
      val legs: Seq[(String, () => DataFrame)] = Seq(
        ("ivf", () =>
          pair(Similarity.ivfTopK(e, "vec_id", "embedding", "label", qPred,
            annK, qRows))),
        ("ivf_multiprobe", () =>
          pair(Similarity.ivfTopKProbes(e, "vec_id", "embedding",
            trainedCentroids(e), 3, qPred, annK, qRows))),
        ("pq_rerank", () =>
          pair(Similarity.pqTopKReranked(e, "vec_id", "embedding", qPred,
            m = pqM, kSub = pqKSub, iters = pqIters, topK = annK,
            shortlist = pqShortlist,
            trainPred =
              pmod(T.hash60(col("vec_id").cast("string")), lit(pqTrainMod)) === 0L,
            queryRows = qRows))),
        ("sq8", () =>
          pair(Similarity.sq8TopK(e, "vec_id", "embedding", qPred, annK,
            qRows))))
      val materialized = legs.map { case (m, f) =>
        (m, Future(f().localCheckpoint()))
      }
      val brute = Await.result(bruteFut, 10.minutes)
      val truth = brute.agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_truth"))
      // NO broadcast hint on the hit joins — measured r21 at both
      // scales: broadcast(brute) was a wash at sf0.1 and a +21%
      // regression at the 200k-vector probe (68.5 s vs 56.7 s) — the
      // truth frame is k rows per stride-sampled probe query, which
      // GROWS with the corpus under a fixed stride, and four broadcast
      // builds serialize through the driver while the plain joins ride
      // AQE's runtime SMJ->BHJ conversion only when a side is actually
      // small. Keep the planner's choice.
      def report(method: String, approx: DataFrame): DataFrame =
        truth.crossJoin(
            approx.join(brute, Seq("query_id", "neighbor_id"))
              .agg(coalesce(count(lit(1)), lit(0L)).as("n_hits")))
          .select(lit(method).as("method"), col("n_queries"), col("n_truth"),
            col("n_hits"),
            round(col("n_hits").cast("double") / col("n_truth").cast("double"), 6)
              .as("recall_at_k"))
      materialized
        .map { case (m, fut) => report(m, Await.result(fut, 10.minutes)) }
        .reduce(_ unionByName _)
        .orderBy("method")
    }),

    // Matryoshka truncation eval (Kusupati et al. 2022, MRL): recall@k
    // of brute-force search over the first-p embedding dims against the
    // full-dim truth — the measurement that licenses storing/searching
    // truncated vectors (a 4× memory + FLOP cut if recall holds). Same
    // deterministic machinery as ann_recall_report (stride-sampled
    // queries, exact-cosine tie-breaks), the candidate corpus is the
    // SAME scan with a sliced vector column — no second dataset, and at
    // scale the prefix slice is a pure projection the scan prunes to.
    "emb_matryoshka_eval" -> ((spark, dir) => {
      val e = emb(spark, dir)
      val qPred = col("vec_id") % annQueryStride === 0
      val pair = (d: DataFrame) => d.select(col("query_id"), col("neighbor_id"))
      val truthPairs = pair(Similarity.bruteForceTopK(
          e, "vec_id", "embedding", qPred, annK))
        .localCheckpoint(false)
      val truth = truthPairs.agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_truth"))
      val reports = matryoshkaDims.map { p =>
        val trunc = e.select(col("vec_id"),
          slice(col("embedding"), 1, p).as("embedding"))
        val approx = pair(Similarity.bruteForceTopK(
          trunc, "vec_id", "embedding", qPred, annK))
        truth.crossJoin(
            approx.join(truthPairs, Seq("query_id", "neighbor_id"))
              .agg(coalesce(count(lit(1)), lit(0L)).as("n_hits")))
          .select(lit(s"prefix$p").as("method"), col("n_queries"),
            col("n_truth"), col("n_hits"),
            round(col("n_hits").cast("double") / col("n_truth").cast("double"), 6)
              .as("recall_at_k"))
      }
      reports.reduce(_ unionByName _).orderBy("method")
    }),

    // Metadata-filtered ANN (Similarity.filteredTopK): top-k restricted
    // to corpus vectors passing a structured predicate (even labels
    // here), applied BEFORE scoring — post-filtering a plain top-k
    // under-fills k and shifts recall. At scale the predicate prunes the
    // corpus scan itself; only matching vectors are scored.
    "ann_topk_filtered" -> ((spark, dir) => {
      Similarity.filteredTopK(emb(spark, dir), "vec_id", "embedding",
        col("vec_id") % annQueryStride === 0, col("label") % 2 === 0, annK)
        .orderBy("query_id", "rank")
    }),

    // PQ + exact re-rank: ADC over m-byte codes shortlists candidates,
    // full-float cosine re-ranks only those. The whole pipeline runs in
    // fixed-point integer space (Similarity.pqScale): Lloyd sums are
    // exact longs (associative — same codebooks on any partitioning),
    // so the DuckDB oracle replays training + ADC bit-for-bit with
    // BIGINT sums and the result hash-matches. Recall floors vs the
    // exact scan are additionally pinned in `SimilaritySpec`.
    "ann_topk_pq" -> ((spark, dir) => {
      Similarity.pqTopKReranked(emb(spark, dir), "vec_id", "embedding",
        col("vec_id") % annQueryStride === 0,
        m = pqM, kSub = pqKSub, iters = pqIters, topK = annK,
        shortlist = pqShortlist,
        trainPred =
          pmod(T.hash60(col("vec_id").cast("string")), lit(pqTrainMod)) === 0L)
        .orderBy("query_id", "rank")
    }),

    // SemDeDup: semantic near-duplicate pruning within coarse clusters
    // (the fixture `label` stands in for the k-means assignment, as in
    // ann_topk_ivf) — survivors after dropping every vector with a
    // lower-id cluster-mate at cosine ≥ threshold. The cluster-scoped
    // self-join bounds the quadratic term by cluster size at any corpus
    // size — the property that distinguishes this from
    // dedup_embedding_cosine's exact all-pairs baseline.
    "dedup_semantic" -> ((spark, dir) => {
      Similarity.semDedupSurvivors(emb(spark, dir), "vec_id", "embedding",
          "label", cosineThreshold)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),

    // Benchmark decontamination: docs from source 'src0' play the eval
    // set; training docs (all other sources) sharing any 5-shingle with
    // it are flagged — the step that keeps eval data out of training.
    "corpus_contamination" -> ((spark, dir) => {
      val d = docs(spark, dir)
      Dedup.contamination(
        d.filter(col("source") =!= "src0"),
        d.filter(col("source") === "src0"),
        "doc_id", "text", k = 5)
        .orderBy("doc_id")
    }),

    // Semantic decontamination — the embedding-space twin of the n-gram
    // check above: paraphrased eval leakage shares no shingles, so the
    // two checks are complements, not alternatives. Eval = the
    // deterministic vec_id % semEvalStride == 0 slice standing in for a
    // benchmark's embedded eval set; it broadcasts, the corpus streams
    // once (Similarity.semanticContamination — no shuffle before the
    // map-side-combined per-vector rollup).
    "contamination_semantic" -> ((spark, dir) => {
      val e = emb(spark, dir)
      Similarity.semanticContamination(
        e.filter(col("vec_id") % semEvalStride =!= 0),
        e.filter(col("vec_id") % semEvalStride === 0),
        "vec_id", "embedding", cosineThreshold)
        .orderBy("vec_id")
    }),

    // Source mixing weights — the data-mixture step of a training
    // pipeline: weight per source ∝ count^0.7 (temperature sampling),
    // normalized to sum 1. Exact-count inputs → deterministic doubles.
    "corpus_mixing_weights" -> ((spark, dir) => {
      val bySource = docs(spark, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_raw"))
        .withColumn("n_chars_total", col("n_chars_raw").cast("long"))
        .drop("n_chars_raw")
      val withW = bySource.withColumn("w_raw", pow(col("n_docs").cast("double"), 0.7))
      // normalizer via a global window over the POST-AGGREGATION frame
      // (one row per source — tiny by construction): single pass, no
      // driver collect, no second scan of the fact table
      val wAll = Window.partitionBy()
      withW
        .withColumn("mix_weight", round(col("w_raw") / sum(col("w_raw")).over(wAll), 6))
        .select(col("source"), col("n_docs"), col("n_chars_total"), col("mix_weight"))
        .orderBy("source")
    }),

    // TF-IDF top terms per doc — the hallmark text-analytics reduction:
    // tf from token occurrences, df across the corpus, top-3 by score.
    // Ranking uses the ROUNDED score so last-ulp ln() differences between
    // engines cannot reorder ranks.
    "text_tfidf_topterms" -> ((spark, dir) => {
      // corpus size as a broadcast 1-row aggregate instead of a driver
      // count(): the whole query stays one declarative plan
      val nDocs = docs(spark, dir)
        .agg(count(lit(1)).cast("double").as("n_docs_total"))
      // ONE explode: df derives from tf (tf rows are already distinct
      // (doc, term) pairs, so rows-per-term IS docs-per-term) — the old
      // toks.distinct() branch re-ran the explode AND paid a second
      // occurrence-scale shuffle. fanout: few-file local scans would
      // otherwise explode on one core.
      val toks = Dedup.fanout(docs(spark, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "term").crossJoin(broadcast(nDocs))
        .withColumn("score",
          round(col("tf").cast("double") *
            log(col("n_docs_total") / col("df").cast("double")), 6))
      // native per-key heap prunes to <=3 rows/doc BEFORE the doc-keyed
      // exchange (the window alone shuffles every occurrence-scale row);
      // the rank then numbers the pruned frame — same deterministic
      // total order, (doc_id, term) is unique
      graft.plans.TopK.ranked(scored, Seq("doc_id"),
          Seq("score" -> true, "term" -> false), 3, "rank")
        .select(col("doc_id"), col("rank"), col("term"), col("score"))
        .orderBy("doc_id", "rank")
    }),

    // Distinctive terms per source via the χ² test on doc-presence
    // contingency tables — the keyword/feature-selection census that
    // tells a curation pipeline WHAT a source is about (and catches a
    // source whose "distinctive" terms are boilerplate artifacts). One
    // occurrence-scale shuffle (the distinct doc-presence explode, the
    // TF-IDF frame's grain); everything after is dictionary-grain.
    // χ² = N·(O11·O22 − O12·O21)² / (row·col·(N−row)·(N−col)) with
    // O11·O22 − O12·O21 = O11·N − row·col computed EXACTLY in BIGINT
    // (envelope: O11·N ≤ N² — safe to ~3e9 docs), then ONE identical
    // left-associated double expression on both engines (same operand
    // order → same IEEE rounding → identical 6-dp values). Only
    // over-represented terms (dlt > 0) with df ≥ chi2MinDf rank;
    // ubiquitous terms (col = N) are excluded — zero denominator and
    // zero signal. Top-k per source through the native per-key heaps.
    "text_chi2_terms" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val pres = Dedup.fanout(d.select(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"), col("source"),
          explode(T.tokens(col("text"))).as("term"))
        .distinct()
      val bySrcTerm = pres.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("df_in_source"))
      val byTerm = pres.groupBy(col("term")).agg(count(lit(1)).as("df_total"))
      val bySrc = d.groupBy(col("source")).agg(count(lit(1)).as("row_n"))
      val nTot = d.agg(count(lit(1)).as("n_all"))
      val scored = bySrcTerm.join(byTerm, "term")
        .join(broadcast(bySrc), "source")
        .crossJoin(broadcast(nTot))
        .filter(col("df_in_source") >= chi2MinDf &&
          col("df_total") < col("n_all") && col("row_n") < col("n_all"))
        .withColumn("dlt",
          col("df_in_source") * col("n_all") - col("row_n") * col("df_total"))
        .filter(col("dlt") > 0)
        .withColumn("chi2", round(
          (col("n_all").cast("double") * col("dlt").cast("double") *
            col("dlt").cast("double")) /
            (col("row_n").cast("double") * col("df_total").cast("double") *
              (col("n_all") - col("row_n")).cast("double") *
              (col("n_all") - col("df_total")).cast("double")), 6))
      graft.plans.TopK.ranked(scored, Seq("source"),
          Seq("chi2" -> true, "term" -> false), chi2TopK, "rank")
        .select(col("source"), col("rank"), col("term"),
          col("df_in_source"), col("df_total"), col("chi2"))
        .orderBy("source", "rank")
    }),

    // Zipf rank-frequency census by FREQUENCY decade — the sanity check
    // that the token distribution has the power-law head/tail a natural
    // corpus must show (a flat total_occ per decade ≈ Zipf s≈1; a
    // missing tail says the corpus is templated/duplicated). Banding by
    // decimal digit count of the frequency keeps everything in exact
    // integers (digits = length of the decimal string — no float log),
    // and rank ranges come from a cumulative sum over the ≤19-row
    // decade domain, so after the one occurrence-scale token rollup the
    // whole query is decade-grain: no global token sort, no per-token
    // rank window anywhere.
    "text_zipf_bands" -> ((spark, dir) => {
      val freq = Dedup.fanout(docs(spark, dir).select(col("text")))
        .select(explode(T.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      val bands = freq
        .groupBy(length(col("freq").cast("string")).cast("long").as("digits"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("freq")).as("total_occ"),
          min(col("freq")).as("min_freq"), max(col("freq")).as("max_freq"))
      // decade-domain window (≤19 rows) — grain bounded by BIGINT digits
      val w = Window.orderBy(col("digits").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      bands
        .withColumn("min_rank", coalesce(sum(col("n_tokens")).over(w), lit(0L)) + 1)
        .withColumn("max_rank", col("min_rank") + col("n_tokens") - 1)
        .select(col("digits"), col("n_tokens"), col("total_occ"),
          col("min_freq"), col("max_freq"), col("min_rank"), col("max_rank"))
        .orderBy("digits")
    }),

    // Term burstiness (Church & Gale 1995): occurrences-per-containing-
    // doc, cf·10⁶ div df — a term that appears 40 times in 3 docs is a
    // TOPIC marker (or boilerplate); one that appears once everywhere
    // is glue. The top of this list is the curation review queue for
    // template contamination. One occurrence-scale rollup (count +
    // distinct-doc count share the exchange); top-k is a TakeOrdered.
    "text_burstiness" -> ((spark, dir) => {
      val occ = Dedup.fanout(docs(spark, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("term"))
      occ.groupBy(col("term"))
        .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= burstinessMinDf)
        .withColumn("burst_ppm", expr("cf * 1000000L div df"))
        .orderBy(col("burst_ppm").desc, col("term"))
        .limit(burstinessTopK)
        .select(col("term"), col("cf"), col("df"), col("burst_ppm"))
    }),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): corpus-level
    // key terms = PageRank over the token ADJACENCY graph (consecutive
    // pairs, symmetrized, co-occurrence-count weights, floor w ≥
    // textrankMinW prunes hapax noise and bounds the graph to the
    // phrase-forming vocabulary head). Rides the SAME fixed-point
    // PageRank operator as events_pagerank — integer ranks, so the full
    // 10-round iteration hash-gates against DuckDB. Edge building is
    // one occurrence-scale rollup; iterations run at vocabulary grain;
    // top-k is a TakeOrdered, never a global sort.
    "text_textrank_terms" -> ((spark, dir) => {
      val bg = Dedup.fanout(docs(spark, dir).select(col("text")))
        .select(explode(T.kgrams(col("text"), 2)).as("bg"))
        .select(substring_index(col("bg"), " ", 1).as("a"),
          substring_index(col("bg"), " ", -1).as("b"))
        .filter(col("a") =!= col("b"))
      val sym = bg.unionAll(bg.select(col("b").as("a"), col("a").as("b")))
      val edges = sym.select(col("a").as("src"), col("b").as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
        .filter(col("w") >= textrankMinW)
      graft.operators.PageRank.ranks(edges, textrankIters)
        .orderBy(col("rank_fp").desc, col("node"))
        .limit(textrankTopK)
        .select(col("node").as("term"), col("rank_fp"),
          round(col("rank_fp").cast("double") / 1000000000.0, 6).as("rank"))
    }),

    // KMV distinct sketch — the deterministic sketch family: synopsis =
    // k smallest portable hashes, so the ESTIMATE itself sits under the
    // DuckDB oracle gate (HLL never could). Exact count alongside shows
    // the error the estimate trades for O(k) mergeable state.
    "sketch_kmv_distinct" -> ((spark, dir) => {
      val k = 64
      // events.parquet carries TIMESTAMP(NANOS); XeFixture.events sets the
      // legacy nanosAsLong conf so the read succeeds standalone
      val ev = graft.xel.XeFixture.events(spark, dir)
        .select(col("event_type"),
          T.hash60(col("user_id").cast("string")).as("h"))
        .distinct() // KMV works over the distinct hash set
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val ranked = ev.withColumn("rn", row_number().over(w))
      val kth = ranked.filter(col("rn") === k)
        .select(col("event_type"), col("h").as("kth_min"))
      val exact = ranked.groupBy(col("event_type"))
        .agg(count(lit(1)).as("exact_distinct"))
      exact.join(kth, Seq("event_type"), "left")
        .withColumn("kmv_estimate",
          when(col("kth_min").isNull, col("exact_distinct").cast("double"))
            .otherwise(round(lit((k - 1).toDouble * Sketches.TwoPow60) /
              col("kth_min").cast("double"), 6)))
        .select(col("event_type"), col("exact_distinct"),
          coalesce(col("kth_min"), lit(0L)).as("kth_min"), col("kmv_estimate"))
        .orderBy("event_type")
    }),

    // The whole corpus-prep story in ONE plan — the flagship composition
    // query: quality filter → normalized-exact dedup (survivor = min
    // doc_id) → deterministic stratified sample, tracked as per-stage
    // FLAGS so a single window + a single aggregation report every
    // stage's survivor count and the final token budget per source. At
    // scale: one digest-keyed window shuffle + one source-keyed agg —
    // materializing each stage separately would rescan the corpus 3×.
    "corpus_pipeline" -> ((spark, dir) => {
      val rates = (0 until 10).map(i =>
        s"src$i" -> (if (i % 2 == 0) 50 else 20)).toMap
      val staged = docs(spark, dir)
        .withColumn("n_toks", T.nTokens(col("text")))
        .withColumn("q", T.qualityScore(col("text")) >= 0.5)
      val ranked = staged.withColumn("rk", row_number().over(
        Window.partitionBy(col("q"), md5(T.normalizeText(col("text"))))
          .orderBy(col("doc_id"))))
      ranked
        .withColumn("uniq", col("q") && col("rk") === 1)
        .withColumn("samp", col("uniq") &&
          Dedup.stratifiedKeep(col("doc_id"), col("source"), rates, 10, "mix1"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("uniq"), 1L).otherwise(0L)).as("n_unique"),
          sum(when(col("samp"), 1L).otherwise(0L)).as("n_sampled"),
          coalesce(sum(when(col("samp"), col("n_toks").cast("long"))), lit(0L))
            .as("sampled_tokens"))
        .orderBy("source")
    }),

    // Corpus card — the per-source datasheet a corpus release ships
    // with (docs, token mass, normalized-unique count = dup-rate
    // complement, mean quality, language mix), computed in ONE pass +
    // one source-keyed agg. Mean quality is a fixed-point INTEGER mean
    // (round(q·10⁶) summed, one integer division) — a raw double sum
    // would desync the hash gate (accumulation order).
    "corpus_card" -> ((spark, dir) => {
      val d = docs(spark, dir)
        .withColumn("n_toks", T.nTokens(col("text")).cast("long"))
        .withColumn("qfp",
          round(T.qualityScore(col("text")) * 1000000, 0).cast("long"))
        .withColumn("nd", md5(T.normalizeText(col("text"))))
        .withColumn("lang_pred", T.langId(col("text")))
      d.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          countDistinct(col("nd")).as("n_unique_norm"),
          expr("sum(qfp) div count(1)").as("mean_quality_fp"),
          sum(when(col("lang_pred") === "en", 1L).otherwise(0L)).as("n_en"))
        .orderBy("source")
    }),

    // Topic datasheet: per embedding-cluster (the k-means assignment the
    // fixture ships, as in dedup_semantic / the IVF quantizer) — size,
    // token mass, mean quality, and the 3 most DISTINCTIVE terms. The
    // distinctiveness weight is the integer idf surrogate
    // tf·(K − df + 1) (K = #clusters, df = #clusters containing the
    // term): monotone in tf and in rarity like tf·ln(K/df), but pure
    // integer math so the cross-engine rank can't ulp-flip. Scale: one
    // (label, token) agg off the token explode; df/K frames are
    // vocabulary-bounded; top-3 via a window over the aggregated
    // (small) frame, stats via one label-keyed agg.
    "corpus_topics" -> ((spark, dir) => {
      // fanout: both consumers (quality stats, token explode) are heavy
      // scan-stage compute — serialized on a few-file corpus without
      // the re-spread (no-op at real corpus file counts)
      val d = Dedup.fanout(docs(spark, dir).join(
        emb(spark, dir).select(col("vec_id").as("doc_id"), col("label")),
        Seq("doc_id")))
      val stats = d
        .withColumn("n_toks", T.nTokens(col("text")).cast("long"))
        .withColumn("qfp",
          round(T.qualityScore(col("text")) * 1000000, 0).cast("long"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          expr("sum(qfp) div count(1)").as("mean_quality_fp"))
      // ONE corpus text pass: the token explode feeds a single
      // (label, token) agg; df-per-token is a window over that
      // vocabulary-bounded frame (a self-join back to a dfc agg would
      // re-run the explode for each consumer), and K comes from the
      // tiny embeddings label column (1-row broadcast, the bm25
      // corpus-stats pattern).
      val tf = d
        .select(col("label"), explode(T.tokens(col("text"))).as("token"))
        .filter(length(col("token")) >= 4)
        .groupBy(col("label"), col("token")).agg(count(lit(1)).as("tf"))
      val kk = emb(spark, dir).select(countDistinct(col("label")).as("k_clusters"))
      val top = tf
        .withColumn("df_clusters",
          count(lit(1)).over(Window.partitionBy(col("token"))))
        .crossJoin(kk)
        .withColumn("score",
          col("tf") * (col("k_clusters") - col("df_clusters") + 1))
        .withColumn("rk", row_number().over(Window.partitionBy(col("label"))
          .orderBy(col("score").desc, col("tf").desc, col("token"))))
        .filter(col("rk") <= 3)
        .groupBy(col("label"))
        .agg(concat_ws(",", transform(
          array_sort(collect_list(struct(col("rk"), col("token")))),
          x => x.getField("token"))).as("top_terms"))
      stats.join(top, Seq("label")).orderBy("label")
    }),

    // KMV set operations (Sketches.kmvMerge/kmvIntersectEstimate): union
    // and intersection distinct-user estimates composed from two bounded
    // synopses — the sketch algebra that answers "how many users did A
    // and B" without re-scanning either side. Sketches built with the
    // mergeable typed Aggregator; every estimate is deterministic column
    // algebra the oracle replays.
    "sketch_kmv_setops" -> ((spark, dir) => {
      val k = 64
      val ev = graft.xel.XeFixture.events(spark, dir)
      val h = T.hash60(col("user_id").cast("string"))
      val a = ev.filter(col("event_type") === "click")
        .agg(Sketches.kmvSketch(k, h).as("sa"))
      val b = ev.filter(col("event_type") === "purchase")
        .agg(Sketches.kmvSketch(k, h).as("sb"))
      val exact = ev.filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "click", 1).otherwise(0)).as("ha"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("hb"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("ha") === 1 && col("hb") === 1, 1L).otherwise(0L))
            .as("exact_intersect"))
      a.crossJoin(b).crossJoin(exact)
        .select(
          Sketches.kmvEstimateCol(col("sa"), k).as("est_clicks"),
          Sketches.kmvEstimateCol(col("sb"), k).as("est_purchases"),
          Sketches.kmvEstimateCol(Sketches.kmvMerge(col("sa"), col("sb"), k), k)
            .as("est_union"),
          Sketches.kmvIntersectEstimate(col("sa"), col("sb"), k).as("est_intersect"),
          col("exact_union"), col("exact_intersect"))
    }),

    // HyperLogLog distinct-user estimate per event type beside the exact
    // count — the fixed-64-byte sibling of the KMV row above (registers
    // merge by MAX, so a 100 TB build is one map-side-combined pass; see
    // the determinism note in Sketches: all register math is integer
    // algebra, the one division happens on a Scala-printed literal).
    // This SQL-shaped register form is the oracle-replayed twin; the
    // mergeable HllSketchAggregator UDAF is pinned value-equal to it in
    // SketchesSpec.
    "sketch_hll_distinct" -> ((spark, dir) => {
      val ev = graft.xel.XeFixture.events(spark, dir)
        .select(col("event_type"),
          T.hash60(col("user_id").cast("string")).as("h"))
      val agg = hllSums(ev, col("event_type"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("h")).as("exact_distinct"))
      exact.join(agg, Seq("event_type"))
        .select(col("event_type"), col("exact_distinct"), col("zero_regs"),
          Sketches.hllEstimateCol(col("zero_regs"), col("denom"))
            .as("hll_estimate"))
        .orderBy("event_type")
    }),

    // Multimodal resize (stubbed codec, real byte plumbing): halve dims,
    // keep a quarter of the body; decode the RESIZED payload back through
    // the header parser to prove the round-trip.
    "mm_resize" -> ((spark, dir) => {
      val withP = Multimodal.withPayload(docs(spark, dir))
        .withColumn("resized", Multimodal.resizeStub(col("payload"), 2))
      withP.select(
        col("doc_id"),
        col("width"), col("height"),
        conv(substring(hex(col("resized")), 1, 4), 16, 10).cast("int").as("new_width"),
        conv(substring(hex(col("resized")), 5, 4), 16, 10).cast("int").as("new_height"),
        col("resized")) // recompute lengths off the actual resized bytes
        .select(col("doc_id"), col("width"), col("height"),
          col("new_width"), col("new_height"),
          octet_length(col("resized")).cast("long").as("resized_bytes"))
        .orderBy("doc_id")
    }),

    // ---- multimodal ----------------------------------------------------
    // REAL distributed feature extraction over the binary payload (unlike
    // the stubbed codec decode): per-format histogram of high nibbles of
    // the first 64 body bytes — the shape of any bytes→features pass.
    "mm_byte_histogram" -> ((spark, dir) => {
      // high nibble of each of the first 64 body bytes, via the native
      // byte-gram kernel at g=1 (raw byte values) + codegen'd conv — the
      // old hex-string HOF build ran the lambda interpreter 64x/row and
      // cost 35 s at the 500k-doc probe; this form is a scan-stage
      // projection (conv emits the same uppercase hex char as
      // substring(hex(payload), ...) on both engines)
      val withP = Multimodal.withPayload(docs(spark, dir))
      withP
        .select(col("format"),
          explode(Multimodal.bodyGrams(col("payload"), 64, 1)).as("b"))
        .select(col("format"), conv(expr("b div 16"), 10, 16).as("nibble"))
        .groupBy(col("format"), col("nibble"))
        .agg(count(lit(1)).as("n"))
        .orderBy("format", "nibble")
    }),

    // Multimodal near-dup: per-payload content signature (byte-TRIGRAM
    // histogram of the first 64 body bytes, exact integer counts, stored
    // SPARSE over the 2²⁴ dim space) → candidate pairs from a one-sided
    // suffix-norm prefix filter under the global (document-frequency asc,
    // dim asc) dim order → exact-cosine verify on the deduped id pairs.
    // Provably complete at the threshold (proof at
    // Multimodal.nearDupSignatures): a pair at cos ≥ t must share a
    // PREFIX dim, and at t=0.995 a prefix only needs squared mass
    // > (1−t²)·nsq ≈ 1% — each doc posts just its 1-3 RAREST trigrams,
    // which trigram sparsity makes genuinely rare across docs (measured
    // posting buckets ≤ 4 docs at sf0.01, vs 40-80 for single bytes). This
    // replaces the round-6 symmetric t/2 filter over a 16-dim signature,
    // whose prefixes covered ~75% of a near-uniform signature's mass and
    // degenerated into an effective cartesian (86 s at sf0.1). The ORACLE
    // stays the unpruned all-pairs ground truth (sparse inner-product
    // form) — parity verifies candidate completeness, not just scoring.
    "mm_near_dup" -> ((spark, dir) => {
      val withP = Multimodal.withPayload(docs(spark, dir))
      val hist = Multimodal.gramHistogram(withP, 64, 3)
      // the signature chain (histogram → df join → per-doc sort) feeds
      // four plan arms (two posting sides, two verify sides) — pin it
      // once; lazy localCheckpoint, same pattern as Dedup.jaccardPairs
      val sig = Multimodal.nearDupSignatures(hist, mmNearDupThreshold)
        .localCheckpoint(false)
      val cand = Multimodal.nearDupCandidates(sig)
      // signatures re-attach AFTER the pair dedup: the candidate join and
      // dropDuplicates shuffle 16-byte id rows, never the histograms.
      // The dot is a native merge over the (df, dim)-sorted entry arrays
      // — one plan leaf instead of the map_zip_with lambda tree whose
      // Catalyst passes used to dominate this query's wall time.
      val m = sig.select(col("doc_id"), col("format"), col("e"), col("nsq"))
      val cos = round(col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
      cand
        .join(m.select(col("format"), col("doc_id").as("d1"),
          col("e").as("ea"), col("nsq").as("na")), Seq("format", "d1"))
        .join(m.select(col("format"), col("doc_id").as("d2"),
          col("e").as("eb"), col("nsq").as("nb")), Seq("format", "d2"))
        .withColumn("dot", SparseSigExpr.sortedDotL(col("ea"), col("eb")))
        .withColumn("cos_sig", cos)
        .filter(col("cos_sig") >= mmNearDupThreshold)
        .select("format", "d1", "d2", "dot", "cos_sig")
        .orderBy("format", "d1", "d2")
    }),

    "mm_decode_stats" -> ((spark, dir) => {
      val withP = Multimodal.withPayload(docs(spark, dir))
      withP.select(
        Seq(col("doc_id"), col("format")) ++
          Multimodal.decodeStatsSql(col("payload")) :+
          size(Multimodal.framePositions(col("payload"), 64, 8)).as("n_frames"): _*)
        .withColumn("byte_len", col("byte_len").cast("long"))
        .orderBy("doc_id")
    }),

    // Frame sampling for video-like payloads: explode the sampled frame
    // positions (Multimodal.framePositions — every 64 bytes past the
    // header, capped at 8, same knobs as mm_decode_stats' n_frames) and
    // fingerprint each 16-byte "frame" slice. The real pipeline swaps
    // the slice-hash for a codec frame-decode inside the same
    // (doc, frame_idx, position) plumbing — the explode shape, the
    // per-frame row grain, and the position arithmetic are what this
    // oracle pins. Embarrassingly parallel: one projection + explode,
    // no shuffle but the output sort.
    "mm_frame_sample" -> ((spark, dir) => {
      val withP = Multimodal.withPayload(docs(spark, dir))
      withP.select(col("doc_id"), col("format"),
          posexplode(Multimodal.framePositions(col("payload"), 64, 8))
            .as(Seq("frame_idx", "fpos")),
          col("payload"))
        .withColumn("frame_hash",
          T.hash60(hex(col("payload")).substr(col("fpos") * 2 + 1, lit(32))))
        .select(col("doc_id"), col("format"), col("frame_idx"), col("fpos"),
          col("frame_hash"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Bloom filter as data (Sketches.BloomAggregator is the mergeable
    // UDAF twin, value-equal by SketchesSpec): per-source token bitset
    // built with d salted portable hashes, probed with a fixed word list.
    // One-sided error surfaces directly: n_probes_maybe >= n_probes_actual,
    // never the reverse. At 100 TB the build is one OR-merged aggregation;
    // this SQL form is the oracle-replayable explode shape.
    "sketch_bloom" -> ((spark, dir) => {
      import spark.implicits._
      val t0 = docs(spark, dir)
        .select(col("source"), explode(T.tokens(col("text"))).as("token"))
        .distinct()
      // BUILD runs the production path — the mergeable OR-merge UDAF
      // (one map-side-combined aggregation; the old explode-positions +
      // distinct form shuffled d×|tokens| rows twice and cost 19 s at
      // the 500k-doc probe, vs ~6 s for the bit algebra). The DuckDB
      // oracle still replays the explode/set-semantics form, so the
      // hash gate now cross-checks UDAF-build ≡ SQL-replay end to end
      // (previously only SketchesSpec pinned that equality).
      val bitsets = t0
        .select(col("source"),
          Sketches.saltedPositions(col("token"), bloomD, bloomM).as("ps"))
        .groupBy("source").agg(Sketches.bloomAgg(bloomM, col("ps")).as("bits"))
      val exact = t0.groupBy("source").agg(count(lit(1)).as("n_distinct_tokens"))
      val probes = sketchProbes.toDF("probe")
      val pw = probes.select(col("probe"),
        array_distinct(Sketches.saltedPositions(col("probe"), bloomD, bloomM))
          .as("pps"))
      val per = bitsets.crossJoin(broadcast(pw))
        .withColumn("hit", Sketches.bloomMightContain(col("bits"), col("pps")))
        .groupBy("source")
        .agg(max(Sketches.bloomBitsSet(col("bits"))).as("n_bits_set"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_probes_maybe"))
      val actual = t0.join(broadcast(probes), t0("token") === probes("probe"))
        .groupBy("source").agg(count(lit(1)).as("n_probes_actual"))
      exact.join(per, Seq("source"))
        .join(actual, Seq("source"), "left")
        .select(col("source"), col("n_distinct_tokens"), col("n_bits_set"),
          col("n_probes_maybe"),
          coalesce(col("n_probes_actual"), lit(0L)).as("n_probes_actual"))
        .orderBy("source")
    }),

    // C4-style repeated-boilerplate removal: non-overlapping 4-token
    // segments (the "line" unit for newline-free text); any segment
    // occurring >= 3 times corpus-wide is dropped from every doc, and the
    // doc is rebuilt in original segment order (hash-pinned). One
    // segment-keyed exchange for counts, one doc-keyed for the rebuild.
    "dedup_segments" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val segs = d.select(col("doc_id"),
        posexplode(T.tokenSegments(col("text"), segDedupLen)).as(Seq("pos", "seg")))
      val cnt = segs.groupBy(col("seg")).agg(count(lit(1)).as("n_occ"))
      val marked = segs.join(cnt, "seg")
        .withColumn("dropped", col("n_occ") >= segDedupThreshold)
      val per = marked.groupBy(col("doc_id")).agg(
        count(lit(1)).as("nseg"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("ndrop"),
        concat_ws(" ", transform(
          sort_array(collect_list(
            when(!col("dropped"), struct(col("pos"), col("seg"))))),
          s => s.getField("seg"))).as("cleaned"))
      d.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("nseg"), lit(0L)).as("n_segments"),
          coalesce(col("ndrop"), lit(0L)).as("n_dropped"),
          T.hash60(coalesce(col("cleaned"), lit(""))).as("clean_hash"))
        .orderBy("doc_id")
    }),

    // Bigram-rarity quality score — the deterministic stand-in for
    // LM-perplexity filtering: docs whose word transitions are mostly
    // corpus-rare (df<=2) read as noise/garble. Integer counts end-to-end
    // (no transcendental math); inverted-index shape — the bigram-keyed
    // shuffle feeds both the corpus counts and the join back, sharing one
    // exchange.
    "text_bigram_rarity" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val bg = d.select(col("doc_id"), explode(T.kgrams(col("text"), 2)).as("bg"))
      val cnt = bg.groupBy(col("bg")).agg(count(lit(1)).as("n"))
      val per = bg.join(cnt, "bg")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nb"),
          sum(when(col("n") <= 2, 1L).otherwise(0L)).as("nr"))
      d.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("nb"), lit(0L)).as("n_bigrams"),
          coalesce(col("nr"), lit(0L)).as("n_rare"),
          when(coalesce(col("nb"), lit(0L)) === 0, 0.0)
            .otherwise(round(col("nr").cast("double") / col("nb").cast("double"), 6))
            .as("rare_ratio"))
        .orderBy("doc_id")
    }),

    // CCNet-style LM quality score: an add-one-smoothed bigram model
    // TRAINED ON THE CORPUS ITSELF scores each doc by its mean smoothed
    // conditional probability — the perplexity-proxy filter of a training
    // -data pipeline (high score = phrasing the corpus has seen; low =
    // boilerplate-free novel or garbage text). Each term is fixed-point
    // INTEGER arithmetic, floor(10⁶·(B+1)/(U+V)) via `div` — bit-exact in
    // both engines — with ONE double division at the end (the repo's
    // no-raw-double-sums rule; a log-likelihood formulation would sum
    // libm doubles and desync the hash gate). At 100 TB: two
    // vocabulary-bounded count frames + the same token exchange shape as
    // text_tfidf; V broadcasts as a 1-row aggregate.
    "text_lm_score" -> ((spark, dir) => {
      lmPerDoc(spark, dir)
        .select(col("doc_id"), col("n_bigrams"), col("lm_sum"),
          when(col("n_bigrams") === 0, 0.0)
            .otherwise(round(col("lm_sum").cast("double") /
              col("n_bigrams").cast("double"), 6))
            .as("lm_score"))
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity bucketing (Wenzek et al., LREC 2020): per
    // source, rank docs by the integer LM score and cut into
    // head/middle/tail thirds — the routing decision CCNet makes with
    // a true LM's perplexity (head = most corpus-like, tail = novel or
    // garbage; training mixtures sample the buckets at different
    // rates). Rank-based thirds, integer fixed-point score ordering
    // (lm_sum div n_bigrams, doc_id tie-break) — nothing float-ordered
    // can ulp-flip the cut. One shared source window (the quality-floor
    // discipline) on top of the lmPerDoc frame.
    "corpus_ppx_buckets" -> ((spark, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("score_fp").desc, col("doc_id"))
      lmPerDoc(spark, dir)
        .withColumn("score_fp",
          expr("CASE WHEN n_bigrams = 0 THEN 0 ELSE lm_sum div n_bigrams END"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_src", count(lit(1)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("bucket",
          expr("""CASE ((rn - 1) * 3) div n_src WHEN 0 THEN 'head'
                  WHEN 1 THEN 'middle' ELSE 'tail' END"""))
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("total_bigrams"),
          expr("sum(score_fp) div count(1)").as("mean_score_fp"))
        .orderBy("source", "bucket")
    }),

    // DSIR-style importance weighting (Xie et al., "Data Selection for
    // Language Models via Importance Resampling", NeurIPS 2023): score
    // each doc by how much its unigrams look like a TARGET domain
    // (sources src0-src4 here) relative to the whole corpus. Per-token
    // ratio in fixed-point INTEGER arithmetic — floor(10⁶·(tc+1)/(ac+1))
    // via `div`, add-one smoothed; the global normalizer T/A is constant
    // across docs, so it drops out of any rank/selection use. No doubles
    // anywhere → hash-gate safe. At 100 TB: one token-keyed count
    // exchange + the occurrence join — the text_tfidf shape; the weight
    // table is vocabulary-bounded.
    "corpus_importance" -> ((spark, dir) =>
      importanceScores(spark, dir).orderBy("doc_id")),

    // The DSIR SELECTION step the scores exist for: keep the top-5 docs
    // per source by mean importance (ties → smallest doc_id) — the
    // resampling draw that tilts the mixture toward the target domain.
    // One extra source-keyed window over the scored frame.
    "corpus_select_importance" -> ((spark, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("imp_mean").desc, col("doc_id"))
      importanceScores(spark, dir)
        .withColumn("sel_rank", row_number().over(w))
        .filter(col("sel_rank") <= 5)
        .select(col("source"), col("sel_rank"), col("doc_id"), col("imp_mean"))
        .orderBy("source", "sel_rank")
    }),

    // Sequential Poisson (PPS) sampling (Dedup.ppsSample): weighted
    // sampling without replacement where weight = doc length — the
    // data-mixture draw that keeps token mass rather than doc count,
    // deterministic (hash-derived uniforms, no RNG) per stratum.
    "corpus_sample_pps" -> ((spark, dir) => {
      Dedup.ppsSample(docs(spark, dir), "doc_id", "source",
          col("n_chars"), n = 10, salt = "pps")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy("source", "doc_id")
    }),

    // Inverted-index head (Search.postingsSummary): per dictionary token,
    // df / total tf / top document — the index-build data product.
    "search_postings" -> ((spark, dir) => {
      graft.corpus.Search.postingsSummary(docs(spark, dir), "doc_id", "text",
          minDf = postingsMinDf)
        .orderBy("token")
    }),

    // BM25 keyword retrieval (graft.corpus.Search): top-20 docs for a
    // fixed term set. Inverted-index shape — only query-term occurrences
    // shuffle; corpus stats reduce to one broadcast row; top-k is a
    // TakeOrdered, no global sort.
    "search_bm25" -> ((spark, dir) => {
      graft.corpus.Search.bm25TopK(docs(spark, dir), "doc_id", "text",
        bm25Terms, bm25K)
    }),

    // Hybrid retrieval: BM25 keyword list ⊕ vector top-k (query = doc 0's
    // embedding) fused by reciprocal-rank fusion (Cormack et al.,
    // SIGIR'09): rrf = Σ 1/(60 + rank), absent list contributes 0. The
    // RAG-retrieval shape — each leg is the existing scale-safe operator
    // (inverted-index BM25, broadcast-query ANN); fusion itself touches
    // only the two ≤bm25K-row lists, so it costs nothing at any corpus
    // size. Ranks are deterministic (score desc, id) in both engines;
    // the fused score is a fixed-order two-term double sum, rounded.
    "search_hybrid_rrf" -> ((spark, dir) => {
      val text = graft.corpus.Search.bm25TopK(docs(spark, dir), "doc_id", "text",
          bm25Terms, bm25K)
        .withColumn("text_rank",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
        .select(col("doc_id"), col("text_rank"))
      val vec = Similarity.bruteForceTopK(emb(spark, dir), "vec_id", "embedding",
          col("vec_id") === 0, bm25K)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rank"))
      text.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("text_rank"), lit(0)).as("text_rank"),
          coalesce(col("vec_rank"), lit(0)).as("vec_rank"),
          round(
            coalesce(lit(1.0) / (lit(rrfOffset) + col("text_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(rrfOffset) + col("vec_rank")), lit(0.0)),
            6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(rrfK)
    }),

    // Count-Min sketch (Sketches.CmsAggregator is the add-merged UDAF
    // twin): d×w counter matrix over ALL token occurrences, point-probed
    // with the same fixed word list. CMS guarantees est >= exact — the
    // overestimate column is the witnessed error, 0 for absent words only
    // when no collision chain covers all d rows.
    "sketch_cms" -> ((spark, dir) => {
      import spark.implicits._
      val occ = docs(spark, dir).select(explode(T.tokens(col("text"))).as("token"))
      val cells = occ
        .select(posexplode(Sketches.saltedPositions(col("token"), cmsD, cmsW))
          .as(Seq("i", "pos")))
        .groupBy("i", "pos").agg(count(lit(1)).as("c"))
      val probes = sketchProbes.toDF("probe")
      val pp = probes.select(col("probe"),
        posexplode(Sketches.saltedPositions(col("probe"), cmsD, cmsW))
          .as(Seq("i", "pos")))
      val est = pp.join(cells, Seq("i", "pos"), "left")
        .groupBy("probe").agg(min(coalesce(col("c"), lit(0L))).as("cms_estimate"))
      val exact = occ.join(broadcast(probes), occ("token") === probes("probe"))
        .groupBy("probe").agg(count(lit(1)).as("exact_count"))
      est.join(exact, Seq("probe"), "left")
        .select(col("probe"), col("cms_estimate"),
          coalesce(col("exact_count"), lit(0L)).as("exact_count"))
        .withColumn("overestimate", col("cms_estimate") - col("exact_count"))
        .orderBy("probe")
    }),

    // §2.9 STREAMING ingest dedup under the ORACLE gate: the documents
    // table arrives as four waves (doc_id mod 4) through a REAL
    // Structured Streaming file source, each wave one micro-batch of
    // the closed admit loop (stream-static anti-join against the digest
    // store; admitted docs land in the corpus and their digests append,
    // so later waves refuse earlier waves' texts). The DuckDB twin
    // recomputes the sequential-admission semantics in one window: a doc
    // is admitted iff its wave is the FIRST wave its exact text appears
    // in (within-wave copies all admit — admission is against the store
    // as of batch start, not within-batch). Each wave is coalesced to one
    // file so one run = one micro-batch, keeping batch splits out of the
    // semantics.
    "stream_ingest_dedup" -> ((spark, dir) =>
      docIngestCensus(spark, dir, "graft_stream")(corpusDir =>
        graft.streaming.IngestDedup.admitLoop("text",
          Scratch.dir(spark, "graft_stream_digest", dir), corpusDir))),

    // Streaming NEAR-dup admission under the ORACLE gate — the fuzzy
    // twin of stream_ingest_dedup: four waves arrive through a real
    // Structured Streaming file source, and each wave admits only docs
    // with NO shingle-Jaccard ≥ t near-duplicate among the PREVIOUSLY
    // ADMITTED docs (store as of batch start; within-wave near-dups all
    // admit; a doc near-dup only of a REJECTED doc admits — the store
    // never holds rejects). Similarity is uncapped, making the pair
    // relation store-independent, so the DuckDB twin computes ONE
    // global pair set and replays sequential admission as four chained
    // NOT-EXISTS CTEs.
    "stream_neardup_ingest" -> ((spark, dir) =>
      nearDupIngestRun(spark, dir, "graft_ndstream",
        graft.streaming.BatchStore.defaultCompactEvery)),

    // Compaction twin under the ORACLE gate: identical waves and
    // semantics, but compactEvery=1 forces the postings sidecar's
    // run-merge cascade to fire on EVERY batch (tail->run, then the
    // binary-counter run absorption), so the driver's DuckDB replay
    // hash-pins that admission through a compacted store equals
    // admission through the per-batch one — the spec pins it in-repo,
    // this row pins it against an external engine every round.
    "stream_neardup_compact" -> ((spark, dir) =>
      nearDupIngestRun(spark, dir, "graft_ndcompact", 1)),

    // Streaming SEMANTIC-dup admission under the ORACLE gate — the
    // embedding-cosine member of the ingest-dedup matrix (exact digest /
    // shingle-Jaccard / cosine): four waves arrive through a real file
    // source, each admitting only vectors with NO rounded-cosine ≥ t
    // neighbor among the PREVIOUSLY ADMITTED vectors (store as of batch
    // start; within-wave dups all admit; a dup only of a REJECT admits).
    // Admission scans the store once per batch with the arriving batch
    // riding along as a codegen reference object (SemHitIdsF) — no join
    // rows, no shuffle. The pair relation is store-independent, so the
    // DuckDB twin computes ONE global cosine pair set and replays
    // sequential admission as four chained NOT-EXISTS CTEs.
    "stream_semdedup_ingest" -> ((spark, dir) =>
      semDedupIngestRun(spark, dir, "graft_semstream",
        graft.streaming.SemDedupIngest.defaultCompactEvery)),

    // Compaction twin (see stream_neardup_compact): compactEvery=1
    // cascades the CELL-INDEX runs on every batch — summary merge,
    // probe paths through run=<lo>-<hi>/cell=<c>, coverage from run
    // ranges — all under the external DuckDB hash gate.
    "stream_semdedup_compact" -> ((spark, dir) =>
      semDedupIngestRun(spark, dir, "graft_semcompact", 1)),

    // Raw-corpus ingest under the ORACLE gate (corpus.Ingest): round-trip
    // the documents table through BOTH line-splittable raw formats —
    // JSONL (how web-scale corpora actually ship) and headerless CSV —
    // plant corrupt AND whitespace-only lines as an extra shard in each
    // drop, re-read through the explicit-schema PERMISSIVE parsers, and
    // enforce the corrupt budget via the single-pass observe() fence.
    // One row per format: clean-row stats (the DuckDB twin recomputes
    // them from `documents` directly) plus the corrupt count, which must
    // equal the planted-malformed constant — a parser that drops good
    // rows, mangles text, or charges blank lines to the budget breaks
    // the hash.
    "corpus_ingest" -> ((spark, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      def scratch(tag: String): String =
        Scratch.dir(spark, s"graft_ingest_$tag", dir)
      val d = docs(spark, dir).select(col("doc_id"), col("source"), col("text"))
      val jdir = scratch("jsonl"); val cdir = scratch("csv")
      Ingest.writeJsonl(d, jdir)
      Ingest.writeCsv(d.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("text_len")), cdir)
      // the rotten shard: 3 malformed JSON lines / 2 malformed CSV lines
      // + whitespace-only lines that must be SKIPPED, not budget-charged
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$jdir/part-bad.json"), badJsonShard)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$cdir/part-bad.csv"),
        "notanumber,sbad,12\n900000002,sbad,notanumber\n\t\n \n")
      val jSchema = StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType)))
      val cSchema = StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text_len", LongType)))
      def leg(raw: DataFrame, planted: Long, lenCol: Column): Seq[Long] = {
        val (clean, check) = Ingest.corruptBudgetGate(raw, budget = planted)
        val a = clean.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(lenCol).as("sum_text_len"),
          sum(col("doc_id")).as("sum_doc_id"),
          countDistinct(col("source")).as("n_sources")).head() // the ONE action
        Seq(a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3),
          a.getLong(4), check())
      }
      val j = leg(Ingest.readJsonl(spark, jdir, jSchema), 3L, length(col("text")).cast("long"))
      val c = leg(Ingest.readCsv(spark, cdir, cSchema), 2L, col("text_len"))
      import spark.implicits._
      Seq(("csv", c(0), c(1), c(2), c(3), c(4), c(5)),
          ("jsonl", j(0), j(1), j(2), j(3), j(4), j(5)))
        .toDF("format", "n_rows", "n_docs", "sum_text_len", "sum_doc_id",
          "n_sources", "n_corrupt")
        .orderBy("format")
    }),

    // Per-source novelty census — the data-valuation complement to
    // dedup: a shingle is NOVEL in the doc (by doc_id order) where it
    // first appears, and a source whose docs are mostly re-statements
    // of earlier content contributes little even if no pair crosses the
    // near-dup threshold. First-occurrence attribution is one
    // shingle-keyed min + an equi-join back onto the postings (both
    // map-side combined / shingle-partitioned — linear at any scale),
    // rolled up per source.
    "corpus_novelty" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val post = Dedup.shinglePostings(d, "doc_id", "text", shingleK)
        .localCheckpoint(false) // feeds the first-occurrence agg + the join
      val first = post.groupBy(col("shingle"))
        .agg(min(col("doc_id")).as("first_doc"))
      val perDoc = post.join(first, Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
      d.select(col("doc_id"), col("source"))
        .join(perDoc, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_sh")), lit(0L)).as("n_shingles"),
          coalesce(sum(col("n_novel")), lit(0L)).as("n_novel"))
        .withColumn("novelty_ratio",
          when(col("n_shingles") === 0, 0.0).otherwise(
            round(col("n_novel").cast("double") /
              col("n_shingles").cast("double"), 6)))
        .orderBy("source")
    }),

    // Vocabulary coverage curve — the tokenizer-sizing artifact: what
    // share of token OCCURRENCES do the top-N vocabulary types cover at
    // each candidate vocab size? The top-N cut runs through the native
    // TopKPerKey heaps (≤N rows per partition reach the shuffle — never
    // a vocabulary-wide global sort); the rank/cumsum windows then see
    // only the ≤5000 survivors. least(cutoff, n_types) keeps the curve
    // defined when the corpus vocabulary is smaller than a cutoff.
    "vocab_coverage_curve" -> ((spark, dir) => {
      import spark.implicits._
      val cnt = docs(spark, dir).select(explode(T.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum(col("n")).cast("long").as("total"),
        count(lit(1)).as("n_types"))
      val top = graft.plans.TopK.perKey(cnt.withColumn("g", lit(1)),
        Seq("g"), Seq("n" -> true, "w" -> false), 5000)
      val cum = top
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n").desc, col("w"))).cast("long"))
        .withColumn("cum", sum(col("n")).over(Window.orderBy(col("rk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      Seq(100L, 1000L, 5000L).toDF("cutoff")
        .crossJoin(broadcast(tot))
        .join(broadcast(cum.select(col("rk"), col("cum"))),
          expr("rk = least(cutoff, n_types)"))
        .select(col("cutoff"), col("n_types"),
          round(col("cum").cast("double") / col("total").cast("double"), 6)
            .as("coverage"))
        .orderBy("cutoff")
    }),

    // Top principal direction of the embedding Gram matrix — distributed
    // integer Gram accumulation + driver-side fixed-point power
    // iteration (Similarity.principalDirection); the oracle replays the
    // quantization, the dim²-grain sums, AND all 10 matvec/rescale
    // iterations unrolled in BIGINT. The anisotropy census behind
    // embedding drift/rogue-dimension checks.
    "emb_principal_dir" -> ((spark, dir) => {
      Similarity.principalDirection(emb(spark, dir), "embedding")
        .select(col("dim"), col("loading_fp"),
          round(col("loading_fp").cast("double") / 1048576.0, 6).as("loading"))
        .orderBy("dim")
    }),

    // Query-by-document ("more like this"): rank the corpus against a
    // deterministic query-doc subset by shared-shingle count over the
    // df-capped postings — the retrieval face of the dedup machinery
    // (same inverted index, different consumer). Candidates meet only
    // through the shingle equi-join (query side is postings of a few
    // docs — tiny), and the per-query cut runs through the native
    // TopKPerKey heaps, so at most k rows per query per partition reach
    // the shuffle.
    "search_similar_doc" -> ((spark, dir) => {
      val post = Dedup.cappedShinglePostings(docs(spark, dir), "doc_id", "text",
          shingleK, maxShingleDf)
        .localCheckpoint(false) // query + corpus legs of one self-join
      val qp = post.filter(col("doc_id") % similarQueryStride === 0)
        .withColumnRenamed("doc_id", "query_id")
      val cand = post.filter(col("doc_id") % similarQueryStride =!= 0)
        .join(qp, Seq("shingle"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("n_common"))
      graft.plans.TopK.ranked(cand, Seq("query_id"),
          Seq("n_common" -> true, "doc_id" -> false), similarTopK, "rank")
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("n_common"))
        .orderBy("query_id", "rank")
    }),

    // Cohen's kappa between two independent keep signals — the filter-
    // agreement analytics a curation pipeline runs before trusting a new
    // quality model: chance-corrected agreement between the hashed
    // linear classifier (text_classifier_score's signal) and the
    // per-source length-median rule. Exact integer contingency counts →
    // identical doubles on both engines. Per-source medians come from
    // source-keyed rank windows (parallel partitions, never a global
    // sort).
    "quality_kappa" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val clf = classifierScorePerDoc(d)
      val med = sourceLengthMedian(d)
      val sig = d.select(col("doc_id"), col("source"), col("n_chars"))
        .join(clf, Seq("doc_id"), "left")
        .join(broadcast(med), Seq("source"))
        .select(
          (coalesce(col("score_fp"), lit(0L)) > 0).as("s1"),
          (col("n_chars") >= col("med")).as("s2"))
      val c = sig.agg(
        sum(when(col("s1") && col("s2"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("s1") && !col("s2"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("s1") && col("s2"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("s1") && !col("s2"), 1L).otherwise(0L)).as("n00"))
      val n = (col("n11") + col("n10") + col("n01") + col("n00")).cast("double")
      val po = (col("n11") + col("n00")).cast("double") / n
      val pe = ((col("n11") + col("n10")).cast("double") *
          (col("n11") + col("n01")).cast("double") +
        (col("n01") + col("n00")).cast("double") *
          (col("n10") + col("n00")).cast("double")) / (n * n)
      c.select(col("n11"), col("n10"), col("n01"), col("n00"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        round((po - pe) / (lit(1).cast("double") - pe), 6).as("kappa"))
    }),

    // Classifier calibration (reliability) table — does a higher
    // classifier score actually mean a higher keep rate? Scores are
    // bucketed into within-source deciles (ntile over source-keyed
    // windows: parallel partitions, never a global sort — the
    // cross-source aggregate then rolls the per-source deciles up),
    // and each decile reports its keep rate against the same
    // length-median reference signal quality_kappa scores the
    // classifier with. A flat or inverted keep_bps curve says the
    // filter threshold is miscalibrated BEFORE it drops half the
    // corpus. All-integer output (counts, bps, exact score sums).
    "quality_calibration" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val scored = d.select(col("doc_id"), col("source"), col("n_chars"))
        .join(classifierScorePerDoc(d), Seq("doc_id"), "left")
        .withColumn("score_fp", coalesce(col("score_fp"), lit(0L)))
        .join(broadcast(sourceLengthMedian(d)), Seq("source"))
        .withColumn("keep", (col("n_chars") >= col("med")).cast("long"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("score_fp"), col("doc_id"))
      scored.withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep")).as("n_keep"),
          sum(col("score_fp")).as("sum_score_fp"))
        .withColumn("keep_bps", expr("n_keep * 10000L div n_docs"))
        .select(col("decile"), col("n_docs"), col("n_keep"),
          col("keep_bps"), col("sum_score_fp"))
        .orderBy("decile")
    }),

    // Epoch/upsampling plan — the data-mixing step that turns "how much
    // of each source do we HAVE" into "how many times do we REPEAT it"
    // for a fixed training-token budget (the Muennighoff/datablations
    // repeat regime). Budget = epochsBudgetX × corpus chars; the
    // per-source target blends 50% uniform across sources with 50%
    // proportional-to-size — the standard flattening that up-weights
    // small high-quality sources without starving the head. The whole
    // plan is per-source aggregate grain (one shuffle); the uniform/
    // proportional split and ceil-epochs stay EXACT via DECIMAL(38,0)
    // cross-multiplies (avail·budget overflows BIGINT at ~10 GB of
    // chars — the oracle mirrors with HUGEINT), truncating div on both
    // engines.
    "corpus_epochs" -> ((spark, dir) => {
      val bySource = docs(spark, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("avail_chars"))
      val tot = bySource.agg(sum(col("avail_chars")).as("total_chars"),
        count(lit(1)).as("n_sources"))
      bySource.crossJoin(broadcast(tot))
        .withColumn("half", expr(
          s"CAST(total_chars AS DECIMAL(38,0)) * $epochsBudgetX div 2"))
        .withColumn("target_chars", expr(
          """CAST(half div n_sources AS BIGINT) +
            |CAST(half * avail_chars div total_chars AS BIGINT)""".stripMargin))
        .withColumn("n_epochs", expr(
          "(target_chars + avail_chars - 1L) div avail_chars"))
        .withColumn("repeat_bps", expr(
          "CAST(CAST(target_chars AS DECIMAL(38,0)) * 10000 div avail_chars AS BIGINT)"))
        .select(col("source"), col("n_docs"), col("avail_chars"),
          col("target_chars"), col("n_epochs"), col("repeat_bps"))
        .orderBy("source")
    }),

    // ORC round-trip — the second columnar at-rest format (Spark ships
    // the ORC reader/writer in-box): write the corpus to ORC, read it
    // back through a filter + narrow projection, and prove the scan
    // path is first-class — the lang predicate and the column pruning
    // must reach the ORC reader (plan-gated: PushedFilters + ReadSchema
    // without `text`). The oracle recomputes the same stats from the
    // parquet `documents` directly, so a round-trip that drops, mangles
    // or re-types rows breaks the hash.
    "corpus_orc_roundtrip" -> ((spark, dir) => {
      val odir = Scratch.dir(spark, "graft_orc", dir)
      docs(spark, dir).write.orc(odir)
      spark.read.orc(odir)
        .filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("source")
    }),

    // Corrupt-row quarantine — the repair surface behind the ingest
    // budget: the malformed RAW LINES themselves, diverted for
    // inspection/replay instead of silently dropped (what an operator
    // actually reads when a drop trips the budget). Same explicit-schema
    // PERMISSIVE parse as corpus_ingest; the oracle pins the exact
    // planted bytes, so a parser that mangles or truncates the captured
    // line breaks the hash.
    "corpus_quarantine" -> ((spark, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val qdir = Scratch.dir(spark, "graft_quar", dir)
      // a 1-in-50 deterministic doc slice keeps the scratch copy small
      // (the good lines only prove the parser doesn't over-capture;
      // corpus_ingest already round-trips the full table)
      Ingest.writeJsonl(
        docs(spark, dir).filter(col("doc_id") % 50 === 0)
          .select(col("doc_id"), col("source"), col("text")), qdir)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$qdir/part-bad.json"), badJsonShard)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType)))
      Ingest.readJsonl(spark, qdir, schema)
        .filter(col(Ingest.CorruptCol).isNotNull)
        .select(col(Ingest.CorruptCol).as("raw_line"))
        .orderBy("raw_line")
    }),

    // Deterministic output sharding + per-shard manifest: the write-side
    // twin of the ingest corrupt budget. Shard = hash60("shard|" ++ id)
    // mod N — content-independent, so a re-run or a different executor
    // count lands every doc in the same shard — and the manifest row per
    // shard (doc count, char volume, id range, order-independent content
    // digest) is what a training job validates before reading. One
    // map-side-combined groupBy; the digest sums per-doc text hashes
    // mod 2³⁰ so the sum stays far from long range at any corpus size.
    "corpus_shards" -> ((spark, dir) => {
      shardManifest(spark, dir).orderBy("shard")
    }),

    // Compaction planner over the shard manifest — the small-file
    // management step of any long-lived 100 TB table (Delta OPTIMIZE /
    // Iceberg rewriteDataFiles): pack shards, in shard order, into
    // contiguous compaction groups of ~total/8 chars each via a running
    // sum (sequential packing preserves locality and needs no bin-pack
    // search). The plan runs entirely on the MANIFEST (nShards rows) —
    // the single-partition windows are over a frame whose size is the
    // shard count, never the corpus; at 10⁶ files the same frame is
    // still MB-sized.
    "layout_compaction" -> ((spark, dir) => {
      val before = Window.orderBy(col("shard"))
        .rowsBetween(Window.unboundedPreceding, -1)
      shardManifest(spark, dir)
        .select(col("shard"), col("n_docs"), col("total_chars"))
        .withColumn("cum_before",
          coalesce(sum(col("total_chars")).over(before), lit(0L)))
        .withColumn("total", sum(col("total_chars")).over(Window.partitionBy()))
        .withColumn("compact_group",
          expr("cum_before div greatest(1L, total div 8)"))
        .select(col("shard"), col("n_docs"), col("total_chars"),
          col("compact_group"))
        .orderBy("shard")
    }),

    // Model-based quality filtering at inference grain: a linear
    // classifier over the token bag (the fastText-style filter of the
    // GPT-3/CCNet pipelines), scored per occurrence and summed per doc.
    // Weights are a deterministic pseudo-model — w(tok) =
    // hash60("clf|" ++ tok) mod 2001 − 1000, the srpPlanes pattern: a
    // real pipeline broadcasts its trained vocabulary instead, the
    // scoring plan (explode → codegen'd per-token weight → one
    // map-side-combined groupBy per doc) is identical. No driver
    // collection, no UDF — md5/conv are whole-stage-codegen built-ins.
    "text_classifier_score" -> ((spark, dir) => {
      val d = docs(spark, dir)
      d.select(col("doc_id")).join(classifierScorePerDoc(d), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          coalesce(col("score_fp"), lit(0L)).as("score_fp"),
          when(coalesce(col("score_fp"), lit(0L)) > 0, 1L).otherwise(0L)
            .as("keep"))
        .orderBy("doc_id")
    }),

    // k-NN graph artifact over the embedding corpus (Similarity.knnGraph):
    // every vector's top-k cosine neighbors from SRP-bucket candidates
    // through the native TopKPerKey heaps — the input graph for
    // graph-based semantic dedup / diversity sampling. 4-bit tables match
    // dedup_embedding_lsh's inlined-plane oracle; production sizes
    // planesPerTable ~ log2(n) (sizing rule on Similarity.srpCandidates).
    "knn_graph" -> ((spark, dir) => {
      Similarity.knnGraph(emb(spark, dir), "vec_id", "embedding",
        srpPlanesConst, srpPlanesPerTable, knnGraphK)
        .orderBy("vec_id", "rank")
    }),

    // Triangle / clustering-coefficient census over the MUTUAL-kNN
    // graph — the manifold-quality diagnostic (a healthy embedding has
    // high local closure; cc near random means the neighborhoods are
    // noise). Mutual edges = knn ∩ reverse(knn) (an equi-shuffle
    // intersect), so undirected degree ≤ k and the id-ordered two-hop
    // join is O(Σ d²) ≤ n·k² — the degree-ordered orientation that
    // makes distributed triangle counting scale-safe (each triangle
    // a<b<c is built and counted exactly once). Wedges = Σ d(d−1)/2
    // in BIGINT; cc_ppm = 3·10⁶·tri div wedges stays integer-exact.
    "emb_triangles" -> ((spark, dir) =>
      Graphs.triangleCensus(mutualKnnEdges(spark, dir))),

    // Community structure via synchronous label propagation over the
    // mutual-kNN graph (Raghavan et al. 2007) — the third distributed
    // graph pattern after connected components (dupClusters) and
    // PageRank: LPA finds DENSE regions, not just connected ones, so it
    // says whether the embedding space has topical cluster structure.
    // Each of the fixed lpaIters rounds is one neighbor-label join +
    // two bounded aggs (new label = most-frequent neighbor label, ties
    // to the smallest — the max-then-min two-step keeps both engines
    // deterministic without struct-ordering tricks); per-round work is
    // O(edges) with degree ≤ k by the mutual filter. Output is the
    // community-SIZE histogram — stable under any label renaming.
    "emb_communities" -> ((spark, dir) =>
      Graphs.lpaCommunitySizes(
          emb(spark, dir).select(col("vec_id").as("id")),
          mutualKnnEdges(spark, dir), lpaIters)
        .orderBy("community_size")),

    // Newman modularity of the LPA partition over the same mutual-kNN
    // graph — the single number that says whether the communities
    // emb_communities found are DENSER than chance (Q near 0 = the
    // "structure" is noise; healthy topical embeddings land well
    // above). Exact BIGINT numerator, one double division (see
    // Graphs.modularity: a truncating ppm would match cross-engine but
    // is sign-asymmetric exactly at the Q=0 read-out point).
    "emb_modularity" -> ((spark, dir) => {
      val mutual = mutualKnnEdges(spark, dir)
      Graphs.modularity(mutual,
        Graphs.lpaLabels(emb(spark, dir).select(col("vec_id").as("id")),
          mutual, lpaIters))
    }),

    // k-core ladder over the mutual-kNN graph — how much of the
    // embedding neighborhood structure is DENSELY supported vs hairs
    // (a kNN graph whose 2-core is tiny is mostly isolated spokes; the
    // 3-core is where real cluster mass lives). Synchronous fixed-round
    // peel (see Graphs.kCoreEdges) so both engines replay the identical
    // deterministic sequence; each k's peel reads the SAME materialized
    // graph artifact.
    "emb_kcore" -> ((spark, dir) =>
      Graphs.kCoreCensus(mutualKnnEdges(spark, dir), kCoreKs, kCoreRounds)
        .orderBy("k")),

    // Degree assortativity of the mutual-kNN graph — r > 0 says dense
    // regions link to dense regions (clustered embedding space), r < 0
    // says hub-and-spoke. Exact integer sums; the final r is doubles +
    // two IEEE-correctly-rounded sqrts, identical on both engines.
    "emb_assortativity" -> ((spark, dir) =>
      Graphs.assortativity(mutualKnnEdges(spark, dir))),

    // Herfindahl–Hirschman concentration of the corpus mixture, by
    // docs AND by chars — the one-number "is this mixture dominated by
    // one source" gate (10⁶ = monopoly; 10⁶/n_sources = uniform).
    // Exact: Σc_i² and C² ride DECIMAL(38,0); one integral ppm div.
    "corpus_herfindahl" -> ((spark, dir) => {
      val by = docs(spark, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("nd"), sum(col("n_chars")).as("nc"))
      by.agg(count(lit(1)).as("n_sources"),
          sum(expr("CAST(nd AS DECIMAL(38,0)) * nd")).as("sd2"),
          sum(col("nd")).as("d"),
          sum(expr("CAST(nc AS DECIMAL(38,0)) * nc")).as("sc2"),
          sum(col("nc")).as("c"))
        .select(col("n_sources"),
          expr("""CAST(sd2 * 1000000 div
                 |     (CAST(d AS DECIMAL(38,0)) * d) AS BIGINT)""".stripMargin)
            .as("hhi_docs_ppm"),
          expr("""CAST(sc2 * 1000000 div
                 |     (CAST(c AS DECIMAL(38,0)) * c) AS BIGINT)""".stripMargin)
            .as("hhi_chars_ppm"))
    }),

    // Multimodal near-dup, byte-ORDER-sensitive path: 60-bit average-hash
    // over the first body bytes + the SimHash pigeonhole Hamming join
    // (Dedup.hammingPairs — same segments machinery, radius 2). The
    // set-based trigram path above (mm_near_dup) is blind to byte order;
    // aHash is the standard integer perceptual-hash family where order
    // matters. Signature is a pure projection; the pair scan is segment
    // equi-joins — no all-pairs anywhere.
    "mm_ahash_neardup" -> ((spark, dir) => {
      Multimodal.ahashNearDup(
          Multimodal.withPayload(docs(spark, dir)), ahashMaxHamming, ahashBits)
        .orderBy("d1", "d2")
    }),

    // pHash near-dup: DCT perceptual hash over the stub-decoded 8×8
    // block — invariant to monotone intensity shifts where aHash flips
    // (each bit compares an AC coefficient to the ACs' own median).
    // Exact integer DCT in 2¹⁴ fixed point; same pigeonhole Hamming
    // join as SimHash/aHash. See Multimodal.phashNearDup.
    "mm_phash_neardup" -> ((spark, dir) => {
      Multimodal.phashNearDup(
          Multimodal.withPayload(docs(spark, dir)), phashMaxHamming)
        .orderBy("d1", "d2")
    }),

    // Per-source duplication census over the materialized cluster
    // artifact — the corpus-card table that says WHICH feed is pumping
    // near-dups into the mixture (a 30% dup rate from one crawl source
    // is a pipeline bug upstream, not a corpus property). Shadow docs =
    // non-canonical cluster members, i.e. exactly the rows dedup_keep
    // drops. One broadcast join of the near-dup-sized artifact onto
    // docs + one source-keyed agg; dup share in exact integer basis
    // points (BIGINT div — no float ratio to diverge cross-engine).
    "corpus_dup_by_source" -> ((spark, dir) => {
      val labels = clustersArtifact(spark, dir)
        .select(col("doc_id"), col("canonical_id"))
      docs(spark, dir).select(col("doc_id"), col("source"), col("n_chars"))
        .join(broadcast(labels), Seq("doc_id"), "left")
        .withColumn("canon", coalesce(col("canonical_id"), col("doc_id")))
        .withColumn("is_dup", col("canonical_id").isNotNull &&
          col("canonical_id") =!= col("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_shadow_docs"),
          sum(when(col("is_dup"), col("n_chars")).otherwise(0L))
            .as("shadow_chars"),
          countDistinct(col("canon")).as("n_groups"))
        .withColumn("dup_bps", expr("n_shadow_docs * 10000L div n_docs"))
        .orderBy("source")
    }),

    // Readability census per source — the Flesch-Kincaid-family quality
    // signal over counts both engines can reproduce exactly: words =
    // \S+ runs, sentences = [.!?]+ runs, syllable proxy = vowel runs
    // (the standard heuristic when no dictionary ships with the
    // pipeline). The grade is fixed-point integer algebra on the
    // per-source totals — 0.39·(W/S) + 11.8·(V/W) − 15.59, scaled 1e6,
    // each division a BIGINT floor — so the hash gate pins it. Pure
    // projection + one source-keyed agg; the regexes are codegen'd
    // built-ins, no UDF.
    "text_readability" -> ((spark, dir) => {
      docs(spark, dir)
        .select(col("source"),
          T.matchCount(col("text"), "\\S+").cast("long").as("w"),
          T.matchCount(col("text"), "[.!?]+").cast("long").as("s"),
          T.matchCount(col("text"), "[aeiouAEIOU]+").cast("long").as("v"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w")).as("n_words"),
          sum(col("s")).as("n_sentences"),
          sum(col("v")).as("n_vowel_groups"))
        .withColumn("fk_grade_fp6",
          expr("390000L * n_words div greatest(n_sentences, 1L)") +
            expr("11800000L * n_vowel_groups div greatest(n_words, 1L)") -
            lit(15590000L))
        .orderBy("source")
    }),

    // Audio-chunk planning — the multimodal plumbing that turns long
    // media into model-sized windows (30 s chunks, 5 s overlap → 25 s
    // stride), with the codec stubbed exactly like the image path:
    // duration is a deterministic per-doc synthetic (5–600 s), the
    // chunk math (explode of the stride sequence, tail clamping, short-
    // tail accounting) is the real distributed plan a transcription
    // pipeline runs. Explode fan-out is duration/stride ≤ 24 per media
    // — linear, partition-local; ONE source-keyed agg after.
    "mm_audio_chunks" -> ((spark, dir) => {
      val media = docs(spark, dir).select(col("doc_id"), col("source"))
        .withColumn("duration_ms",
          lit(5000L) + pmod(T.hash60(
            concat(lit("dur|"), col("doc_id").cast("string"))), lit(595000L)))
      media
        .withColumn("start_ms",
          explode(sequence(lit(0L), col("duration_ms") - 1, lit(25000L))))
        .withColumn("chunk_ms",
          least(col("start_ms") + 30000L, col("duration_ms")) - col("start_ms"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_media"),
          count(lit(1)).as("n_chunks"),
          sum(col("chunk_ms")).as("total_chunk_ms"),
          sum(when(col("chunk_ms") < 10000L, 1L).otherwise(0L))
            .as("n_short_tails"),
          max(col("duration_ms")).as("max_duration_ms"))
        .orderBy("source")
    }),

    // Full Lloyd k-means over the embedding corpus in EXACT fixed point —
    // the clustering twin of emb_principal_dir: components scale by 2²⁰
    // (power of two, so float→fp is exact and round() never sits on an
    // fp boundary), distances are BIGINT squared-L2, centroid updates
    // are explicit floor-means, and the DuckDB oracle replays every
    // iteration UNROLLED — a float k-means could never cross-engine
    // hash-gate. Seeds = the k smallest vec_ids; ties on distance break
    // to the lower cluster id on both engines. Scale shape: assignment
    // is a pure whole-stage-codegen projection (centroid table rides in
    // as literals); each update collects only k×dim sums to the driver —
    // the corpus never leaves the executors.
    "emb_kmeans" -> ((spark, dir) => {
      val (x, cents) = kmeansTrain(spark, dir)
      val checksums = cents.map(c =>
        c.zipWithIndex.map { case (v, d) => v * (d + 1) }.sum)
      val nc = graft.corpus.VectorExpr.nearestCentroidL(col("xf"), cents)
      x.select(element_at(nc, 1).cast("int").as("cid"),
          element_at(nc, 2).as("dist"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          sum(expr("dist div 1048576L")).as("inertia_scaled"))
        .withColumn("centroid_checksum",
          element_at(lit(checksums), col("cid") + 1))
        .orderBy("cid")
    }),

    // Tokenizer-fertility report per source — the cost model behind
    // token-budget planning: BPE-ish tokens per whitespace word
    // (fertility) and chars per BPE token, both as exact integer ratios
    // (bps / 3-dp fixed point). A source whose fertility spikes is
    // code/URLs/non-Latin text the tokenizer fragments — the signal
    // mixing weights consume. Pure projection (two codegen'd regexp
    // counts) + one source-keyed agg.
    "corpus_tokenizer_fertility" -> ((spark, dir) => {
      docs(spark, dir)
        .select(col("source"), col("n_chars"),
          T.bpeTokenCount(col("text")).cast("long").as("nb"),
          T.nTokens(col("text")).cast("long").as("nw"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb")).as("n_bpe_tokens"),
          sum(col("nw")).as("n_ws_tokens"),
          sum(col("n_chars")).as("n_chars_total"))
        .withColumn("fertility_bps",
          expr("n_bpe_tokens * 10000L div greatest(n_ws_tokens, 1L)"))
        .withColumn("chars_per_bpe_fp3",
          expr("n_chars_total * 1000L div greatest(n_bpe_tokens, 1L)"))
        .orderBy("source")
    }),

    // Simplified silhouette over the trained k-means — the cluster-
    // quality report that says whether k fits the corpus: per vector,
    // a = squared distance to its own centroid, b = to the second-
    // nearest, s = (b−a)/max(a,b) ∈ [0,1] by construction (b ≥ a).
    // The ratio is 3-dp fixed point with the MULTIPLY-FIRST bound
    // checked: (b−a) ≤ 64·(2·2²⁰)² ≈ 2.8e14, ×1000 < 2⁶³ — a 1e6 scale
    // here would overflow BIGINT, so both engines compute ×1000 div.
    // Per-cluster mean is the explicit floor-mean (emb_drift idiom).
    // Same joinless codegen-projection plan as emb_kmeans.
    "emb_silhouette" -> ((spark, dir) => {
      val (x, cents) = kmeansTrain(spark, dir)
      // b needs a second-nearest centroid; with one cluster the kernel's
      // third slot is Long.MaxValue and the subtraction below would wrap
      require(cents.length >= 2,
        s"emb_silhouette needs k >= 2 trained centroids, got ${cents.length}")
      val nc = graft.corpus.VectorExpr.nearestCentroidL(col("xf"), cents)
      x.select(
          element_at(nc, 1).cast("int").as("cid"),
          element_at(nc, 2).as("a2"),
          element_at(nc, 3).as("b2"))
        .withColumn("s_fp3",
          expr("(b2 - a2) * 1000L div greatest(a2, b2, 1L)"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), sum(col("s_fp3")).as("ssum"))
        .select(col("cid"), col("n_members"),
          expr("(ssum - pmod(ssum, n_members)) div n_members")
            .as("mean_sil_fp3"))
        .orderBy("cid")
    }),

    // Video scene-cut census on the stubbed-codec payload: sample up to
    // 8 frames per media (the mm_frame_sample plumbing), fingerprint
    // each, and count fingerprint CHANGES between consecutive frames —
    // the shot-boundary statistic a video curation pipeline reports.
    // One doc-partitioned lag window over the bounded frame explode
    // (≤8 rows per media — partition-local, never corpus-wide).
    "mm_scene_cuts" -> ((spark, dir) => {
      val frames = Multimodal.withPayload(docs(spark, dir))
        .select(col("doc_id"), col("format"),
          posexplode(Multimodal.framePositions(col("payload"), 64, 8))
            .as(Seq("frame_idx", "fpos")),
          col("payload"))
        .withColumn("frame_hash",
          T.hash60(hex(col("payload")).substr(col("fpos") * 2 + 1, lit(32))))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      frames
        .withColumn("prev", lag(col("frame_hash"), 1).over(w))
        .withColumn("is_cut",
          col("prev").isNotNull && col("prev") =!= col("frame_hash"))
        .groupBy(col("format"))
        .agg(countDistinct(col("doc_id")).as("n_media"),
          count(lit(1)).as("n_frames"),
          sum(when(col("is_cut"), 1L).otherwise(0L)).as("n_cuts"))
        .orderBy("format")
    }),

    // Layout-pruning report — the scan-amplification numbers behind the
    // z-order/compaction decisions: the SAME doc-id range probe against
    // a hash-sharded manifest (every shard spans the full id range —
    // zero pruning) and a range-sharded one (only overlapping shards
    // scan). min/max per shard is exactly the footer statistics a
    // parquet/iceberg manifest carries; scan amplification = scanned
    // rows over matching rows, in integer basis points.
    "layout_manifest_prune" -> ((spark, dir) => {
      val d = docs(spark, dir).select(col("doc_id"))
      def manifest(shard: Column, layout: String): DataFrame =
        d.withColumn("shard", shard)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
          .withColumn("layout", lit(layout))
      val m = manifest(pmod(T.hash60(
          concat(lit("shard|"), col("doc_id").cast("string"))), lit(nShards)),
          "hash")
        .unionByName(manifest(expr(s"doc_id div ${pruneSpan}L"), "range"))
      val matching = d.filter(col("doc_id").between(pruneLo, pruneHi))
        .agg(count(lit(1)).as("rows_matching"))
      m.withColumn("overlaps",
          col("min_doc") <= pruneHi && col("max_doc") >= pruneLo)
        .groupBy(col("layout"))
        .agg(count(lit(1)).as("n_shards"),
          sum(when(col("overlaps"), 1L).otherwise(0L)).as("n_scanned"),
          sum(when(col("overlaps"), col("n_docs")).otherwise(0L))
            .as("rows_scanned"))
        .crossJoin(broadcast(matching))
        .withColumn("amplification_bps",
          expr("rows_scanned * 10000L div greatest(rows_matching, 1L)"))
        .orderBy("layout")
    }),

    // Clustering depth per layout — the Delta-OPTIMIZE-style metric
    // that quantifies WHY range layout prunes and hash layout doesn't:
    // per shard, how many shards' [min,max] key intervals overlap it
    // (depth 1 = perfectly clustered; depth = n_shards means every
    // file must be read for any range probe). The interval self-join
    // runs at MANIFEST grain (nShards² cells at worst, thousands at a
    // real lake's file count) — never touches the data after the one
    // min/max rollup per layout.
    "layout_clustering_depth" -> ((spark, dir) => {
      val d = docs(spark, dir).select(col("doc_id"))
      def manifest(shard: Column, layout: String): DataFrame =
        d.withColumn("shard", shard)
          .groupBy(col("shard"))
          .agg(min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
          .withColumn("layout", lit(layout))
      val m = manifest(pmod(T.hash60(
          concat(lit("shard|"), col("doc_id").cast("string"))), lit(nShards)),
          "hash")
        .unionByName(manifest(expr(s"doc_id div ${pruneSpan}L"), "range"))
        .localCheckpoint(false)
      val depth = m.as("a")
        .join(m.select(col("layout"), col("min_doc").as("bmin"),
            col("max_doc").as("bmax")),
          Seq("layout"))
        .filter(col("min_doc") <= col("bmax") && col("max_doc") >= col("bmin"))
        .groupBy(col("layout"), col("shard"))
        .agg(count(lit(1)).as("depth"))
      depth.groupBy(col("layout"))
        .agg(count(lit(1)).as("n_shards"),
          max(col("depth")).as("max_depth"),
          expr("CAST(sum(depth) * 1000000 div count(1) AS BIGINT)")
            .as("avg_depth_ppm"))
        .orderBy("layout")
    }),

    // Late-interaction (ColBERT-style) MaxSim retrieval — the
    // multi-vector scoring family single-vector ANN can't express:
    // each embedding is treated as 4 sub-vectors of 16 dims, and
    // score(d) = Σ over query sub-vectors of the MAX dot product
    // against any doc sub-vector. All dots in 2²⁰ fixed point (exact
    // BIGINT; per-dot ≤ 7e13). The query's segments ride in as
    // literals, so scoring is a pure projection over one corpus scan +
    // TakeOrdered — the same scale shape as brute-force top-k, with
    // 16 dots per row instead of 1.
    "ann_maxsim_topk" -> ((spark, dir) => {
      val e = emb(spark, dir)
      def fp(c: Column): Column =
        transform(c, x => round(x.cast("double") * 1048576.0, 0).cast("long"))
      val qrows = e.filter(col("vec_id") === 0)
        .select(fp(col("embedding"))).collect()
      require(qrows.nonEmpty,
        "ann_maxsim_topk: query vector (vec_id = 0) not found")
      val qvec: Array[Long] = qrows.head.getSeq[Long](0).toArray
      require(qvec.length % maxsimSegs == 0,
        s"embedding dim ${qvec.length} not divisible into $maxsimSegs segments")
      val segLen = qvec.length / maxsimSegs
      val qsegs: Array[Array[Long]] = qvec.grouped(segLen).toArray
      val xf = fp(col("embedding"))
      // native integer dot (exact, associative — value-identical to the
      // HOF fold the oracle replays); the interpreted zip_with form
      // re-entered the lambda interpreter per (doc, query-segment, doc-
      // segment) triple across the whole corpus scan
      def dot(seg: Column, q: Array[Long]): Column =
        graft.corpus.VectorExpr.dotL(seg, typedLit(q.toSeq))
      val score = qsegs.map { q =>
        greatest((0 until maxsimSegs).toIndexedSeq
          .map(s => dot(slice(xf, s * segLen + 1, segLen), q)): _*)
      }.reduce(_ + _)
      Dedup.fanout(e.filter(col("vec_id") =!= 0))
        .select(col("vec_id"), score.as("maxsim_fp"))
        .orderBy(col("maxsim_fp").desc, col("vec_id"))
        .limit(10)
    }),

    // Scaling-law size series — nested deterministic subsets (1% ⊂ 10%
    // ⊂ 100% by hash threshold, so every smaller tier is contained in
    // every larger one BY CONSTRUCTION — the property ablation runs
    // need and random sampling loses). One projection computes the
    // tier; the census is one rollup per tier over the same frame.
    "corpus_size_series" -> ((spark, dir) => {
      val d = docs(spark, dir)
        .withColumn("h", pmod(T.hash60(
          concat(lit("series|"), col("doc_id").cast("string"))), lit(1000L)))
      def tier(pct: Int): DataFrame =
        d.filter(col("h") < pct * 10)
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
            countDistinct(col("source")).as("n_sources"))
          .select(lit(pct).as("tier_pct"), col("n_docs"),
            col("total_chars"), col("n_sources"))
      tier(1).unionByName(tier(10)).unionByName(tier(100))
        .orderBy("tier_pct")
    }),

    // Heaps-law vocabulary growth over the SAME nested size tiers as
    // corpus_size_series: token occurrences vs distinct tokens at each
    // checkpoint — the curve that says whether more data still buys
    // vocabulary. ONE pass over the token explode: per-tier occurrence
    // sums and distinct counts as conditional aggregates (nested tiers
    // make the conditions prefixes of each other), unstacked to rows.
    "vocab_growth" -> ((spark, dir) => {
      val d = docs(spark, dir)
        .withColumn("h", pmod(T.hash60(
          concat(lit("series|"), col("doc_id").cast("string"))), lit(1000L)))
        .select(col("h"), explode(T.tokens(col("text"))).as("token"))
      // nesting makes a token's SMALLEST doc-hash decide every tier it
      // appears in — so per-tier distinct counts come from one
      // token-keyed min exchange instead of a 3-way Expand of the full
      // occurrence stream (15.6 → 8.6 s at the 500k-doc probe); the
      // occurrence sums are map-side conditional aggregates on the
      // same scan
      val occ = d.agg(
        sum(when(col("h") < 10, 1L).otherwise(0L)).as("o1"),
        sum(when(col("h") < 100, 1L).otherwise(0L)).as("o10"),
        count(lit(1)).as("o100"))
      val dist = d.groupBy(col("token")).agg(min(col("h")).as("mh"))
        .agg(sum(when(col("mh") < 10, 1L).otherwise(0L)).as("d1"),
          sum(when(col("mh") < 100, 1L).otherwise(0L)).as("d10"),
          count(lit(1)).as("d100"))
      occ.crossJoin(dist)
        .selectExpr("stack(3, 1, o1, d1, 10, o10, d10, 100, o100, d100)" +
          " as (tier_pct, n_occurrences, n_distinct_tokens)")
        .orderBy("tier_pct")
    }),

    // Exact-duplicate vectors — the embedding twin of dedup_exact: rows
    // whose FIXED-POINT component arrays are identical (a re-embedded
    // batch or an upstream join bug shows up here before any cosine
    // math runs). Digest = hash60 of the joined fp components; one
    // digest-keyed agg.
    "emb_exact_dups" -> ((spark, dir) => {
      val fp = transform(col("embedding"),
        e => round(e.cast("double") * 1048576.0, 0).cast("long"))
      val g = emb(spark, dir)
        .select(col("vec_id"), col("label"),
          T.hash60(concat_ws(",",
            transform(fp, v => v.cast("string")))).as("dig"))
        .groupBy(col("dig"))
        .agg(count(lit(1)).as("sz"), min(col("vec_id")).as("canonical"))
      g.agg(count(lit(1)).as("n_unique_vectors"),
          sum(when(col("sz") > 1, col("sz") - 1).otherwise(0L))
            .as("n_shadow_vectors"),
          sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
          coalesce(max(when(col("sz") > 1, col("sz"))), lit(0L))
            .as("largest_group"))
    }),

    // Embedding norm census per label — the sanity gate before any
    // cosine machinery (an unnormalized slice silently breaks every
    // dot-product ranking): squared L2 norm in the same 2²⁰ fixed
    // point as k-means, per-label floor-mean and extremes. Pure
    // projection + one agg.
    "emb_norm_census" -> ((spark, dir) => {
      val xf = transform(col("embedding"),
        e => round(e.cast("double") * 1048576.0, 0).cast("long"))
      emb(spark, dir)
        .select(col("label"),
          aggregate(xf, lit(0L), (acc, v) => acc + v * v).as("norm2"))
        .select(col("label"), expr("norm2 div 1048576").as("n2s"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("n2s")).as("min_norm2_scaled"),
          max(col("n2s")).as("max_norm2_scaled"),
          sum(col("n2s")).as("sum_norm2_scaled"))
        .withColumn("mean_norm2_scaled",
          expr("sum_norm2_scaled div n_vecs"))
        .orderBy("label")
    }),

    // Dedup waterfall — the corpus-card headline table: docs and chars
    // surviving each stage of the real pipeline order (raw → exact →
    // normalized-exact → near-dup), each stage keeping the min-id
    // survivor per group over the PREVIOUS stage's survivors (so the
    // numbers compose; a stage-3 canonical that lost at stage 2 cedes
    // to the smallest remaining member). Digests only ever GROUP —
    // Spark uses hash60/native normalize, the oracle md5/regex chain;
    // both partition identical texts identically (equivalence pinned
    // by dedup_exact_normalized). Three digest-keyed windows + one
    // broadcast of the near-dup artifact.
    "corpus_dedup_funnel" -> ((spark, dir) => {
      val d = docs(spark, dir).select(col("doc_id"), col("text"), col("n_chars"))
      val labels = clustersArtifact(spark, dir)
        .select(col("doc_id"), col("canonical_id"))
      def keepMinPer(df: DataFrame, key: Column): DataFrame =
        df.withColumn("_rn", row_number().over(
            Window.partitionBy(key).orderBy(col("doc_id"))))
          .filter(col("_rn") === 1).drop("_rn")
      val s1 = keepMinPer(d, T.hash60(col("text")))
      val s2 = keepMinPer(s1, T.hash60(T.normalizeText(col("text"))))
      val s3 = keepMinPer(
        s2.join(broadcast(labels), Seq("doc_id"), "left")
          .withColumn("canon", coalesce(col("canonical_id"), col("doc_id"))),
        col("canon"))
      def stage(df: DataFrame, ord: Int, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
          .select(lit(ord).as("stage"), lit(name).as("stage_name"),
            col("n_docs"), col("total_chars"))
      stage(d, 0, "raw")
        .unionByName(stage(s1, 1, "exact"))
        .unionByName(stage(s2, 2, "normalized"))
        .unionByName(stage(s3, 3, "neardup"))
        .orderBy("stage")
    }),

    // Declarative data-quality battery (operators.Constraints — the
    // dbt-tests surface): five named checks over documents evaluated in
    // ONE aggregation pass (uniqueness rides the same aggregate as the
    // row predicates). The census a pipeline gates its publish step on.
    "corpus_constraints" -> ((spark, dir) => {
      import graft.operators.Constraints._
      audit(docs(spark, dir), Seq(
        notNull("a_doc_id_not_null", col("doc_id")),
        UniqueCheck("b_doc_id_unique", "doc_id"),
        acceptedValues("c_lang_accepted", col("lang"),
          Seq("en", "de", "fr", "es", "zh")),
        inRange("d_chars_in_range", col("n_chars"), 1L, 100000L),
        RowCheck("e_text_nonempty", length(trim(col("text"))) === 0)))
        .orderBy("check_name")
    }),

    // Referential-integrity audit between the text and embedding tables
    // — the data-quality gate a multimodal corpus runs before training:
    // docs with no vector (would silently drop from semantic dedup),
    // vectors with no doc (stale index entries). Full-outer join on the
    // shared id, census per source (orphan vectors report under the
    // sentinel source '_no_doc').
    "corpus_fk_audit" -> ((spark, dir) => {
      val d = docs(spark, dir).select(col("doc_id"), col("source"))
      val e = emb(spark, dir).select(col("vec_id"))
      d.join(e, col("doc_id") === col("vec_id"), "full_outer")
        .select(
          coalesce(col("source"), lit("_no_doc")).as("source"),
          col("doc_id").isNotNull.as("has_doc"),
          col("vec_id").isNotNull.as("has_vec"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("has_doc") && col("has_vec"), 1L).otherwise(0L))
            .as("n_matched"),
          sum(when(col("has_doc") && !col("has_vec"), 1L).otherwise(0L))
            .as("n_docs_without_vec"),
          sum(when(!col("has_doc") && col("has_vec"), 1L).otherwise(0L))
            .as("n_vecs_without_doc"))
        .orderBy("source")
    }),

    // Embedding outlier census off the trained k-means — the vector-
    // cleaning pass that catches mis-embedded rows: a vector is an
    // outlier when its squared distance to its own centroid exceeds
    // twice the cluster mean (cross-multiplied: d·n > 2·Σd — no
    // division, no floats). Two passes over the assignment projection;
    // the per-cluster sums broadcast back.
    "emb_outliers" -> ((spark, dir) => {
      val (x, cents) = kmeansTrain(spark, dir)
      val nc = graft.corpus.VectorExpr.nearestCentroidL(col("xf"), cents)
      // the outlier rule runs on the 2^20-scaled distance so the
      // cross-multiply d·n stays far inside BIGINT at corpus scale
      // (raw dist·n overflows at ~3e4 vectors)
      val assigned = x.select(col("vec_id"),
          element_at(nc, 1).cast("int").as("cid"),
          element_at(nc, 2).as("dist"))
        .select(col("vec_id"), col("cid"),
          expr("dist div 1048576L").as("d_s"))
      val stats = assigned.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), sum(col("d_s")).as("sum_ds"))
      assigned.join(broadcast(stats), Seq("cid"))
        .withColumn("is_outlier",
          col("d_s") * col("n_members") > col("sum_ds") * 2)
        .groupBy(col("cid"))
        .agg(max(col("n_members")).as("n_members"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
          max(col("d_s")).as("max_dist_scaled"))
        .orderBy("cid")
    }),

    // Bloom-filter shard manifests — the Iceberg/parquet bloom story
    // for POINT lookups, where min/max statistics (layout_manifest_prune)
    // cannot prune at all: each shard publishes a bloomM-bit token
    // filter built by the mergeable OR-aggregator, and a point probe
    // scans only the maybe-shards. Output per probe token: shards a
    // bloom manifest would scan vs the shards that truly contain it —
    // the false-positive column is the read amplification the m/d
    // sizing controls. Build is one map-side-combined UDAF pass; probes
    // are manifest-grain.
    "layout_bloom_prune" -> ((spark, dir) => {
      import spark.implicits._
      val t0 = docs(spark, dir)
        .withColumn("shard", pmod(T.hash60(
          concat(lit("shard|"), col("doc_id").cast("string"))), lit(nShards)))
        .select(col("shard"), explode(T.tokens(col("text"))).as("token"))
        .distinct()
      val bitsets = t0
        .select(col("shard"),
          Sketches.saltedPositions(col("token"), bloomD, bloomM).as("ps"))
        .groupBy("shard").agg(Sketches.bloomAgg(bloomM, col("ps")).as("bits"))
      val probes = sketchProbes.toDF("probe")
      val pw = probes.select(col("probe"),
        array_distinct(Sketches.saltedPositions(col("probe"), bloomD, bloomM))
          .as("pps"))
      val maybe = bitsets.crossJoin(broadcast(pw))
        .withColumn("hit", Sketches.bloomMightContain(col("bits"), col("pps")))
        .groupBy(col("probe"))
        .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_shards_maybe"))
      val actual = t0.join(broadcast(probes), t0("token") === probes("probe"))
        .groupBy(col("probe")).agg(countDistinct(col("shard")).as("n_shards_actual"))
      maybe.join(actual, Seq("probe"), "left")
        .na.fill(0L, Seq("n_shards_actual"))
        .select(col("probe"), lit(nShards).as("n_shards"),
          col("n_shards_maybe"), col("n_shards_actual"),
          (col("n_shards_maybe") - col("n_shards_actual"))
            .as("n_false_positive_shards"))
        .orderBy("probe")
    }),

    // Faceted search — the result-page sidebar block: for the documents
    // matching a query term, per-facet value counts (lang and source
    // dimensions stacked into one table) plus the match volume. The
    // token filter prunes to matching docs in the scan stage; the two
    // facet rollups share that one frame. Facet tables are
    // attribute-cardinality-sized at any corpus scale.
    "search_facets" -> ((spark, dir) => {
      val term = bm25Terms.head
      val m = docs(spark, dir)
        .filter(array_contains(T.tokens(col("text")), term))
        .select(col("lang"), col("source"), col("n_chars"))
      def facet(dim: String): DataFrame =
        m.groupBy(col(dim).as("facet_value"))
          .agg(count(lit(1)).as("n_matches"),
            sum(col("n_chars")).as("match_chars"))
          .select(lit(dim).as("facet_dim"), col("facet_value"),
            col("n_matches"), col("match_chars"))
      facet("lang").unionByName(facet("source"))
        .orderBy("facet_dim", "facet_value")
    }),

    // ANALYZE-style column statistics — the numbers a cost-based
    // optimizer (or a corpus datasheet) collects per column: null count,
    // exact NDV, and the mergeable HLL estimate beside it (the form that
    // scales — exact NDV is the oracle's check, the sketch is what a
    // 100 TB ANALYZE actually ships). One pass per column, each a
    // map-side-combined register aggregation.
    "corpus_table_stats" -> ((spark, dir) => {
      val d = docs(spark, dir)
      def statsFor(cname: String): DataFrame = {
        val hv = d.select(T.hash60(col(cname).cast("string")).as("h"))
        val agg = hllSums(hv.filter(col("h").isNotNull))
        val ex = hv.agg(
          sum(when(col("h").isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col("h")).as("exact_ndv"))
        ex.crossJoin(agg).select(lit(cname).as("column_name"),
          col("n_nulls"), col("exact_ndv"), col("zero_regs"),
          Sketches.hllEstimateCol(col("zero_regs"), col("denom"))
            .as("hll_estimate"))
      }
      statsFor("doc_id").unionByName(statsFor("lang"))
        .unionByName(statsFor("source"))
        .orderBy("column_name")
    }),

    // Right-to-be-forgotten propagation over the events stream: an
    // external deletion list (users who invoked erasure) anti-joins the
    // fact table, and the census a compliance audit needs — rows
    // purged / remaining per event type, purged value mass, and an
    // order-independent tombstone digest of WHICH users were erased —
    // comes from one semi + one anti pass. The deletion list is
    // user-count-sized → broadcast; the fact table never shuffles.
    "events_forget" -> ((spark, dir) => {
      val ev = graft.xel.XeFixture.events(spark, dir)
        .select(col("event_type"), col("user_id"),
          expr("CAST(round(value * 1000000, 0) AS BIGINT)").as("v6"))
      val dels = ev.select(col("user_id")).distinct()
        .filter(pmod(col("user_id"), lit(13L)) === 0L)
      val purged = ev.join(broadcast(dels), Seq("user_id"), "left_semi")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_purged"),
          countDistinct(col("user_id")).as("n_users_purged"),
          sum(col("v6")).as("purged_value_fp6"),
          sum(T.hash60(concat(lit("tomb|"), col("user_id").cast("string")))
            % 1073741824L).as("tombstone_digest"))
      val kept = ev.join(broadcast(dels), Seq("user_id"), "left_anti")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_after"))
      ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_before"))
        .join(kept, Seq("event_type"), "left")
        .join(purged, Seq("event_type"), "left")
        .na.fill(0L, Seq("n_after", "n_purged", "n_users_purged",
          "purged_value_fp6", "tombstone_digest"))
        .orderBy("event_type")
    }),

    // Filter-ablation matrix — the corpus-card table that says how much
    // each quality filter (and each combination) would cut: CUBE over
    // the three keep signals (length floor, language, classifier), so
    // every marginal and every interaction is one row of the same
    // single-pass aggregate. Rolled-up cells read 'all' (strings chosen
    // so no flag value collides), keeping the output NULL-free — the
    // two engines order NULLs differently, values identically.
    "corpus_filter_ablation" -> ((spark, dir) => {
      val d = docs(spark, dir)
      val flags = d.select(col("doc_id"), col("n_chars"), col("lang"))
        .join(classifierScorePerDoc(d), Seq("doc_id"), "left")
        .select(
          when(col("n_chars") >= 200, "len_ok").otherwise("len_low")
            .as("len_f"),
          when(col("lang") === "en", "lang_en").otherwise("lang_other")
            .as("lang_f"),
          when(coalesce(col("score_fp"), lit(0L)) > 0, "clf_keep")
            .otherwise("clf_drop").as("clf_f"),
          col("n_chars"))
      flags.cube(col("len_f"), col("lang_f"), col("clf_f"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .select(coalesce(col("len_f"), lit("all")).as("len_f"),
          coalesce(col("lang_f"), lit("all")).as("lang_f"),
          coalesce(col("clf_f"), lit("all")).as("clf_f"),
          col("n_docs"), col("total_chars"))
        .orderBy("len_f", "lang_f", "clf_f")
    })
  )

  /** Fixed-point Lloyd training shared by emb_kmeans / emb_silhouette:
    * fp = round(x·2²⁰) per component (power-of-two scale — float→fp is
    * exact), seeds = the k smallest vec_ids, each round one distributed
    * argmin-assignment projection + a k×dim driver collect of sums,
    * centroid update = Math.floorDiv floor-mean (the oracle's
    * (s − pmod(s,n)) // n). Returns the fp corpus frame and the final
    * centroid table. */
  private def kmeansTrain(spark: SparkSession, dir: String)
      : (DataFrame, Array[Array[Long]]) = {
    // fanout: a single-file embeddings corpus otherwise serializes the
    // whole interpreted distance compute onto one core (no-op at real
    // file counts — the Dedup.fanout contract)
    val x = Dedup.fanout(emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"),
        e => round(e.cast("double") * 1048576.0, 0).cast("long")).as("xf")))
    var cents: Array[Array[Long]] = x.orderBy("vec_id").limit(kmeansK)
      .select("xf").collect().map(_.getSeq[Long](0).toArray)
    require(cents.nonEmpty,
      "emb_kmeans: embeddings table is empty — no seeds to train from")
    for (_ <- 1 to kmeansIters) {
      val nc = graft.corpus.VectorExpr.nearestCentroidL(col("xf"), cents)
      val sums = x.select(
          element_at(nc, 1).cast("int").as("cid"),
          posexplode(col("xf")))
        .groupBy("cid", "pos")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect() // k×dim aggregated sums only — never corpus rows
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = Math.floorDiv(r.getLong(2), r.getLong(3))
      }
      cents = next
    }
    (x, cents)
  }

  // assignment runs through the NATIVE NearestCentroidL kernel
  // (VectorExpr.scala): the HOF zip_with/aggregate form computed the
  // identical integer algebra but interpreted — 66 s vs ~3 s for the
  // same 200k-vector probe pass. Centroids ride in as a codegen
  // reference object; assignment never joins.

  // layout_manifest_prune knobs: the doc-id probe range and the
  // range-layout shard span (mirrored in the oracle SQL)
  val pruneLo = 100L
  val pruneHi = 299L
  val pruneSpan = 512L

  // Bloom/CMS knobs (kept in lockstep with the oracle SQL below); probes
  // mix in-vocabulary words with zzqx* strings absent by construction.
  val bloomD = 3
  val bloomM = 1024
  val cmsD = 3
  val cmsW = 256
  val sketchProbes: Seq[String] =
    Seq("spark", "table", "agg", "zzqx0", "zzqx1", "zzqx2")

  // BM25 search knobs
  val bm25Terms: Seq[String] = Seq("spark", "join", "window")
  val bm25K = 20
  // RRF fusion: final list size and the standard rank-offset constant
  // (Cormack et al., SIGIR'09 — 60 dampens high-rank dominance)
  val rrfK = 10
  val rrfOffset = 60

  // postings-summary dictionary floor — interpolated into BOTH the Spark
  // call and the oracle's HAVING so the two sides can't silently desync
  val postingsMinDf = 20L

  // segment-dedup knobs (C4-style repeated-line removal)
  val segDedupLen = 4
  val segDedupThreshold = 3

  // multimodal near-dup threshold (on the 6dp-rounded cosine)
  val mmNearDupThreshold = 0.995

  // ---- DuckDB oracles ----------------------------------------------------

  /** Tokens + distinct 3-shingles CTE over `documents`. The CASE guard
    * mirrors Spark's `TextAnalysis.tokens` empty-text semantics —
    * string_split_regex('', ...) yields [''] (len 1) in DuckDB where
    * Spark's guard yields [], and a blank doc would desync every
    * token-derived oracle. */
  /** payload-synthesis CTE shared by every mm_* oracle */
  private val mmMediaCte: String =
    // no line here may BEGIN with '||': this fragment is interpolated
    // into outer stripMargin'd templates, which would eat the first '|'
    """media AS (
      |  SELECT doc_id,
      |         from_hex(lpad(to_hex(n_chars % 64 + 16), 4, '0') ||
      |                  lpad(to_hex(doc_id % 48 + 16), 4, '0')) || encode(text) AS payload
      |  FROM documents
      |)""".stripMargin

  /** [[mmMediaCte]] with the `format` the Spark side derives from doc_id. */
  private val mmMediaFormatCte: String =
    """media AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'png'
      |              WHEN doc_id % 3 = 1 THEN 'jpg'
      |              ELSE 'webp' END AS format,
      |         from_hex(lpad(to_hex(n_chars % 64 + 16), 4, '0') ||
      |                  lpad(to_hex(doc_id % 48 + 16), 4, '0')) || encode(text) AS payload
      |  FROM documents
      |)""".stripMargin

  /** aHash pair chain (expects `media` in scope) ending at
    * `aprs(d1, d2, hamming)` — shared by the aHash and agreement
    * oracles so the two can never drift. */
  private lazy val ahashPairCtes: String =
    s"""abytes AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS i,
       |         ('0x' || substring(hex(payload), CAST(9 + i * 2 AS INTEGER), 2))::BIGINT AS b
       |  FROM media, range(0, $ahashBits) t(i)
       |  WHERE i < least(octet_length(payload) - 4, $ahashBits)
       |), astats AS (
       |  SELECT doc_id, CAST(sum(b) AS BIGINT) AS s, count(*) AS n
       |  FROM abytes GROUP BY doc_id
       |), asig AS (
       |  SELECT b.doc_id,
       |         CAST(sum(CASE WHEN b.b > (st.s // st.n)
       |                       THEN (CAST(1 AS BIGINT) << b.i) ELSE 0 END)
       |              AS BIGINT) AS ahash
       |  FROM abytes b JOIN astats st USING (doc_id)
       |  WHERE st.n >= 8 GROUP BY b.doc_id
       |), aprs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2,
       |         CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
       |  FROM asig a JOIN asig b ON a.doc_id < b.doc_id
       |)""".stripMargin

  /** pHash pair chain (expects `media` in scope) ending at
    * `pprs(d1, d2, hamming)`; the DCT basis is interpolated from
    * [[Multimodal.dctTableFp]] as fixed-point integer literals. */
  private lazy val phashPairCtes: String = {
    val tVals = (for { u <- 0 until 8; x <- 0 until 8 }
      yield s"($u, $x, ${Multimodal.dctTableFp(u)(x)})").mkString(", ")
    s"""pbytes AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS i,
       |         ('0x' || substring(hex(payload), CAST(9 + i * 2 AS INTEGER), 2))::BIGINT AS b
       |  FROM media, range(0, 64) t(i)
       |  WHERE octet_length(payload) - 4 >= 64
       |), tdf AS (
       |  SELECT * FROM (VALUES $tVals) AS tv(u, x, t)
       |), ppx AS (
       |  SELECT doc_id, i // 8 AS x, i % 8 AS y, b AS p FROM pbytes
       |), pm AS (
       |  SELECT doc_id, u, y, CAST(sum(t * p) AS BIGINT) AS mv
       |  FROM ppx JOIN tdf USING (x) GROUP BY 1, 2, 3
       |), pc AS (
       |  SELECT pm.doc_id, pm.u, t2.u AS v, CAST(sum(pm.mv * t2.t) AS BIGINT) AS cv
       |  FROM pm JOIN tdf t2 ON t2.x = pm.y GROUP BY 1, 2, 3
       |), pac AS (
       |  SELECT doc_id, CAST(u * 8 + v - 1 AS INTEGER) AS idx, cv
       |  FROM pc WHERE NOT (u = 0 AND v = 0)
       |), pmed AS (
       |  SELECT doc_id, cv AS med FROM (
       |    SELECT doc_id, cv,
       |           row_number() OVER (PARTITION BY doc_id
       |             ORDER BY cv, idx) AS rn
       |    FROM pac) WHERE rn = 32
       |), psig AS (
       |  SELECT pac.doc_id,
       |         CAST(sum(CASE WHEN pac.cv > pmed.med
       |                       THEN (CAST(1 AS BIGINT) << pac.idx) ELSE 0 END)
       |              AS BIGINT) AS phash
       |  FROM pac JOIN pmed USING (doc_id) GROUP BY 1
       |), pprs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2,
       |         CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
       |  FROM psig a JOIN psig b ON a.doc_id < b.doc_id
       |)""".stripMargin
  }

  private val tokCte =
    """WITH toks AS (
      |  SELECT doc_id,
      |         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(trim(text), '\s+') END AS ws
      |  FROM documents
      |)""".stripMargin

  /** The stop-word ratio term of the quality score over (text, ws): the
    * DuckDB twin of `TextAnalysis.qualityScore`'s stop-word share. */
  private val stopRatioSql: String =
    s"""CASE WHEN len(ws) = 0 THEN 0.0 ELSE
       |  CAST(len(regexp_extract_all(lower(text),
       |    '${T.langStopwords.map(_._2).mkString("|")}')) AS DOUBLE)
       |    / CAST(len(ws) AS DOUBLE) END""".stripMargin

  /** The symbol ratio term (non-alphanumeric share of the characters). */
  private val symbolRatioSql: String =
    """CASE WHEN length(text) = 0 THEN 0.0 ELSE
      |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)
      |    / CAST(length(text) AS DOUBLE) END""".stripMargin

  /** The quality score q in [0, 1] rounded to 6 places, from a token
    * count, a stop-word ratio and a symbol ratio (SQL expressions). */
  private def qualitySql(nTokens: String, stopRatio: String,
                         symbolRatio: String): String =
    s"""round(((CASE WHEN $nTokens BETWEEN 10 AND 1000 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
       |       + least($stopRatio * 10.0, CAST(1 AS DOUBLE))
       |       + (CAST(1 AS DOUBLE) - least($symbolRatio * 5.0, CAST(1 AS DOUBLE)))) / 3.0, 6)""".stripMargin

  /** The quality score over (text, ws), terms computed in place. */
  private val textQualitySql: String =
    qualitySql("len(ws)", s"($stopRatioSql)", s"($symbolRatioSql)")

  /** Fixed-point quality score qfp = round(q·10⁶) over (text, ws) — the
    * exact DuckDB twin of `TextAnalysis.qualityScore` (shared by
    * corpus_card / corpus_topics; one source of truth). */
  private val qfpSql: String =
    s"""CAST(round($textQualitySql
       |              * 1000000, 0) AS BIGINT)""".stripMargin

  /** k-shingle CTE body (appended after tokCte): distinct k-grams per doc.
    * range end is len-k+2 (range is end-exclusive; last window starts at
    * len-k+1). */
  private def shingleSql(k: Int): String = {
    val joinExpr = (0 until k).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"""sh AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(list_transform(range(1, len(ws) - ${k - 2}),
       |                i -> $joinExpr))) AS shingle
       |  FROM toks WHERE len(ws) >= $k
       |)""".stripMargin
  }

  private val shingleCte = s"$tokCte,\n${shingleSql(shingleK)}"

  /** The rounded Jaccard of every shingle-sharing pair as CTE
    * `name(d1, d2, jaccard)`; expects `common` and `sizes` in scope. */
  private def jaccardPairsSql(name: String): String =
    s"""$name AS (
       |  SELECT d1, d2,
       |         round(CAST(common AS DOUBLE) / CAST(s1.n + s2.n - common AS DOUBLE), 6) AS jaccard
       |  FROM common
       |  JOIN sizes s1 ON d1 = s1.doc_id
       |  JOIN sizes s2 ON d2 = s2.doc_id
       |)""".stripMargin

  /** The near-dup cluster chain as one reusable CTE block over a Jaccard
    * tail (`common`, `sizes`): pairs ≥ threshold → undirected edges →
    * recursive reachability → `clus` (doc_id, canonical_id = component
    * min). The DuckDB twin of the jaccardPairs → dupClusters chain. */
  private def clusterChainSql(tail: String): String =
    s"""${shingleCte.replaceFirst("WITH toks", "WITH RECURSIVE toks")},
       |$tail,
       |${jaccardPairsSql("joined")},
       |pairs AS (SELECT d1, d2 FROM joined WHERE jaccard >= $jaccardThreshold),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |),
       |clus AS (
       |  SELECT a AS doc_id, least(a, min(b)) AS canonical_id
       |  FROM reach GROUP BY a
       |)""".stripMargin

  /** [[clusterChainSql]] over capped pairs: the twin of the chain behind
    * `clustersArtifact`, shared by every oracle that consumes the artifact. */
  private lazy val clusterCte = clusterChainSql(jaccardTailCapped)

  /** [[shingleCte]] restricted to the lshEval doc sample: the WHERE is
    * the DuckDB twin of `pmod(hash60(doc_id), lshEvalSampleMod) = 0`. */
  private val shingleCteSampled = s"${tokCte.replace("FROM documents",
    s"FROM documents\n  WHERE ${h60("CAST(doc_id AS VARCHAR)")} % $lshEvalSampleMod = 0")},\n${shingleSql(shingleK)}"

  /** Non-distinct w-token window CTE (appended after tokCte): one row per
    * window OCCURRENCE — [[shingleSql]] without list_distinct, mirroring
    * Dedup.spanWindows/TextAnalysis.kgrams. */
  private def spanSql(w: Int): String = {
    val joinExpr = (0 until w).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"""spans AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(ws) - ${w - 2}),
       |                i -> $joinExpr)) AS span
       |  FROM toks WHERE len(ws) >= $w
       |)""".stripMargin
  }

  private val spanCte = s"$tokCte,\n${spanSql(spanW)}"

  /** The bigram-LM per-doc CTE chain (ends in `lmdoc`: doc_id, source,
    * n_bigrams, lm_sum) — the DuckDB twin of [[lmPerDoc]], shared by the
    * text_lm_score and corpus_ppx_buckets oracles. */
  private lazy val lmCte =
    s"""$tokCte,
       |uni AS (SELECT unnest(ws) AS w FROM toks),
       |ucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS un FROM uni GROUP BY 1),
       |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM uni),
       |occ AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(ws)),
       |                i -> ws[i] || ' ' || ws[i+1])) AS bg
       |  FROM toks WHERE len(ws) >= 2
       |), bcnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS bn FROM occ GROUP BY 1),
       |dict AS (
       |  SELECT bg,
       |         CAST(((bn + 1) * 1000000) // (un + v) AS BIGINT) AS term
       |  FROM bcnt JOIN ucnt u ON split_part(bcnt.bg, ' ', 1) = u.w
       |  CROSS JOIN vv
       |), per AS (
       |  SELECT doc_id, count(*) AS nb,
       |         CAST(sum(term) AS BIGINT) AS lm_sum
       |  FROM occ JOIN dict USING (bg)
       |  GROUP BY 1
       |),
       |lmdoc AS (
       |  SELECT d.doc_id, d.source,
       |         coalesce(nb, 0) AS n_bigrams,
       |         coalesce(lm_sum, 0) AS lm_sum
       |  FROM documents d LEFT JOIN per USING (doc_id)
       |)""".stripMargin

  /** Portable 60-bit hash in DuckDB syntax. */
  private def h60(expr: String): String =
    s"('0x' || substring(md5($expr), 1, 15))::BIGINT"

  /** The corpus_table_stats oracle: one HLL register chain per column
    * (generated from the same column list the Spark side unions), each
    * the sketch_hll_distinct form minus the group key. */
  private lazy val tableStatsOracleSql: String = {
    val (regE, rhoE) = Sketches.hllRegRhoSql("h")
    def block(cname: String): String =
      s"""sel_$cname AS (
         |  SELECT ${h60(s"CAST($cname AS VARCHAR)")} AS h FROM documents
         |), regs_$cname AS (
         |  SELECT $regE AS reg, max($rhoE) AS m_rho
         |  FROM sel_$cname WHERE h IS NOT NULL GROUP BY 1
         |), agg_$cname AS (
         |  SELECT CAST(sum(${Sketches.hllDenomTermSql("m_rho")}) AS BIGINT)
         |           AS denom_present,
         |         count(*) AS n_present
         |  FROM regs_$cname
         |), row_$cname AS (
         |  SELECT '$cname' AS column_name,
         |         (SELECT CAST(sum(CASE WHEN h IS NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) FROM sel_$cname) AS n_nulls,
         |         (SELECT count(DISTINCT h) FROM sel_$cname) AS exact_ndv,
         |         CAST(${Sketches.HllM} - n_present AS INTEGER) AS zero_regs,
         |         ${Sketches.hllEstimateSql(
               s"CAST(${Sketches.HllM} - n_present AS INTEGER)",
               s"denom_present + (${Sketches.HllM} - n_present) * ${Sketches.HllEmptyTerm}")}
         |           AS hll_estimate
         |  FROM agg_$cname
         |)""".stripMargin
    val cols = Seq("doc_id", "lang", "source")
    "WITH " + cols.map(block).mkString(",\n") + "\n" +
      cols.map(c => s"SELECT * FROM row_$c").mkString("\nUNION ALL\n") +
      "\nORDER BY column_name"
  }

  /** The emb_outliers oracle: the kmeans chain through the final
    * assignment (WITH distances), then the scaled cross-multiplied
    * outlier rule and per-cluster rollup. */
  private lazy val embOutliersOracleSql: String = {
    val f = kmeansIters + 1
    val prefix = kmeansOracleSql
    val upToAssign = prefix.substring(0, prefix.indexOf("cks AS ("))
    s"""${upToAssign}ds AS (
       |  SELECT vec_id, cid, dist // 1048576 AS d_s FROM a$f
       |), stats AS (
       |  SELECT cid, count(*) AS n_members,
       |         CAST(sum(d_s) AS BIGINT) AS sum_ds
       |  FROM ds GROUP BY 1
       |)
       |SELECT ds.cid, max(n_members) AS n_members,
       |       CAST(sum(CASE WHEN d_s * n_members > sum_ds * 2
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |       max(d_s) AS max_dist_scaled
       |FROM ds JOIN stats ON ds.cid = stats.cid
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The emb_kmeans oracle, every Lloyd iteration UNROLLED (generated
    * from the same kmeansK/kmeansIters knobs the Spark side uses).
    * MATERIALIZED hints are load-bearing: DuckDB's default CTE inlining
    * re-evaluates the referenced-twice chain exponentially (the
    * emb_principal_dir lesson). Floor-mean = (s − pmod(s,n)) // n, the
    * emb_drift idiom, matching Math.floorDiv on the Spark driver. */
  private lazy val kmeansOracleSql: String = {
    def dist(n: Int, cPrev: String) =
      s"""d$n AS MATERIALIZED (
         |  SELECT vec_id, cid,
         |         CAST(list_aggregate(list_transform(range(1, len(xf) + 1),
         |           i -> (xf[i] - cf[i]) * (xf[i] - cf[i])), 'sum') AS BIGINT) AS dist
         |  FROM x CROSS JOIN $cPrev
         |)""".stripMargin
    def assign(n: Int) =
      s"""a$n AS MATERIALIZED (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT vec_id, cid, dist,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d$n) t WHERE rn = 1
         |)""".stripMargin
    def update(n: Int, cPrev: String) =
      s"""u$n AS (
         |  SELECT cid, pos, CAST(sum(val) AS BIGINT) AS s, count(*) AS n
         |  FROM (SELECT cid, unnest(range(1, len(xf) + 1)) AS pos, unnest(xf) AS val
         |        FROM a$n JOIN x USING (vec_id)) t
         |  GROUP BY 1, 2
         |), c$n AS MATERIALIZED (
         |  SELECT $cPrev.cid, coalesce(w.cf_new, $cPrev.cf) AS cf
         |  FROM $cPrev LEFT JOIN (
         |    SELECT cid, list((s - ((s % n) + n) % n) // n ORDER BY pos) AS cf_new
         |    FROM u$n GROUP BY cid) w ON $cPrev.cid = w.cid
         |)""".stripMargin
    val head =
      s"""WITH x AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           e -> CAST(round(CAST(e AS DOUBLE) * 1048576.0, 0) AS BIGINT)) AS xf
         |  FROM embeddings
         |), c0 AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, xf AS cf
         |  FROM (SELECT vec_id, xf FROM x ORDER BY vec_id LIMIT $kmeansK) s
         |)""".stripMargin
    val iters = (1 to kmeansIters).flatMap(i =>
      Seq(dist(i, s"c${i - 1}"), assign(i), update(i, s"c${i - 1}")))
    val f = kmeansIters + 1
    val tail =
      s"""cks AS (
         |  SELECT cid, CAST(list_aggregate(list_transform(range(1, len(cf) + 1),
         |    i -> cf[i] * i), 'sum') AS BIGINT) AS centroid_checksum
         |  FROM c$kmeansIters
         |)""".stripMargin
    (Seq(head) ++ iters ++ Seq(dist(f, s"c$kmeansIters"), assign(f), tail))
      .mkString(",\n") +
      s"""
         |SELECT a$f.cid, count(*) AS n_members,
         |       CAST(sum(dist // 1048576) AS BIGINT) AS inertia_scaled,
         |       max(centroid_checksum) AS centroid_checksum
         |FROM a$f JOIN cks ON a$f.cid = cks.cid
         |GROUP BY a$f.cid ORDER BY a$f.cid""".stripMargin
  }

  /** The emb_silhouette oracle: the same unrolled training chain, but the
    * final distance frame keeps rank-1 AND rank-2 rows per vector (own vs
    * second-nearest centroid), then the 3-dp fixed-point simplified
    * silhouette with the explicit floor-mean per cluster. */
  private lazy val silhouetteOracleSql: String = {
    val prefix = kmeansOracleSql
    val f = kmeansIters + 1
    // reuse everything up to (and including) the final distance CTE d$f,
    // then rebuild the per-vector rank frame from it
    val upToDist = prefix.substring(0, prefix.indexOf(s"a$f AS MATERIALIZED")).stripSuffix("\n")
    s"""${upToDist}r$f AS MATERIALIZED (
       |  SELECT vec_id, cid, dist,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |  FROM d$f
       |), ab AS (
       |  SELECT a.vec_id, a.cid, a.dist AS a2, b.dist AS b2
       |  FROM (SELECT * FROM r$f WHERE rn = 1) a
       |  JOIN (SELECT * FROM r$f WHERE rn = 2) b USING (vec_id)
       |), sfp AS (
       |  SELECT cid, (b2 - a2) * 1000 // greatest(a2, b2, 1) AS s_fp3 FROM ab
       |), g AS (
       |  SELECT cid, count(*) AS n_members, CAST(sum(s_fp3) AS BIGINT) AS ssum
       |  FROM sfp GROUP BY 1
       |)
       |SELECT cid, n_members,
       |       (ssum - ((ssum % n_members) + n_members) % n_members) // n_members
       |         AS mean_sil_fp3
       |FROM g ORDER BY cid""".stripMargin
  }

  /** The hashed-linear-classifier per-doc score CTE (`clfper`) — the
    * oracle twin of [[classifierScorePerDoc]], ONE definition shared by
    * the `text_classifier_score` and `quality_kappa` oracles. Expects
    * `toks` ([[tokCte]]) upstream. */
  private lazy val clfPerDocCte =
    s"""occ AS (
       |  SELECT doc_id, unnest(ws) AS tok FROM toks
       |), clfper AS (
       |  SELECT doc_id, count(*) AS n_toks,
       |         CAST(sum(${h60("'clf|' || tok")} % 2001 - 1000) AS BIGINT)
       |           AS score_fp
       |  FROM occ GROUP BY doc_id
       |)""".stripMargin

  private val jaccardTail =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** [[jaccardTail]] with the df cap mirrored from Dedup.dfCapped: the
    * self-join reads only postings whose shingle df ≤ maxShingleDf; set
    * sizes stay the FULL per-doc counts (capped similarity is
    * conservative, never inflated). Used by the queries whose Spark side
    * goes through jaccardPairs/containmentPairs; the MinHash-LSH verify
    * step is candidate-bounded and stays uncapped. */
  private val jaccardTailCapped =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |shc AS (
       |  SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
       |    FROM sh)
       |  WHERE df <= $maxShingleDf
       |),
       |common AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)""".stripMargin

  private val langCounts = T.langStopwords.map { case (l, p) =>
    s"len(regexp_extract_all(lower(text), '$p')) AS c_$l"
  }.mkString(",\n         ")

  private val cosDot =
    """list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len(a.embedding) + 1),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
      |    (x, y) -> x + y)""".stripMargin

  private val normSql =
    """sqrt(list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len(embedding) + 1),
      |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (x, y) -> x + y))""".stripMargin

  /** SRP bucket-table UNION (one SELECT per hash table) shared by the
    * dedup_embedding_lsh and knn_graph oracles. Each plane component
    * CASTs from its shortest-round-trip string: DuckDB types bare
    * decimal literals as DECIMAL(17,16), whose conversion to double can
    * land 1 ulp off the Spark-side literal; VARCHAR → DOUBLE parsing is
    * correctly rounded in both engines. */
  private lazy val bucketSelects: String = {
    def planeList(p: Int): String =
      srpPlanesConst(p).map(v => s"CAST('$v' AS DOUBLE)").mkString("[", ", ", "]")
    def dotPlane(p: Int): String =
      s"""list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len(embedding) + 1),
         |      i -> CAST(embedding[i] AS DOUBLE) * (${planeList(p)})[i]), (x, y) -> x + y)""".stripMargin
    def bucketExpr(t: Int): String =
      (0 until srpPlanesPerTable).map { p =>
        s"(CASE WHEN ${dotPlane(t * srpPlanesPerTable + p)} >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
    (0 until srpPlanesConst.length / srpPlanesPerTable).map(t =>
      s"SELECT vec_id, $t AS t, CAST(${bucketExpr(t)} AS BIGINT) AS bucket FROM embeddings")
      .mkString("\n  UNION ALL\n  ")
  }

  /** The ranked mutual-kNN WITH-chain (norms → buckets → cand → pairs →
    * directed → ranked) shared by the knn_graph and emb_triangles
    * oracles — one definition, so the graph both queries read can never
    * drift. */
  private lazy val knnRankedCtes: String =
    s"""norms AS (
       |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
       |), buckets AS (
       |  $bucketSelects
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
       |  FROM buckets a JOIN buckets b
       |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |), pairs AS (
       |  SELECT v1, v2, round($cosDot / (a.nrm * b.nrm), 6) AS cos_sim
       |  FROM cand JOIN norms a ON v1 = a.vec_id JOIN norms b ON v2 = b.vec_id
       |), directed AS (
       |  SELECT v1 AS vec_id, v2 AS neighbor_id, cos_sim FROM pairs
       |  UNION ALL
       |  SELECT v2, v1, cos_sim FROM pairs
       |), ranked AS (
       |  SELECT vec_id, neighbor_id, cos_sim,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY cos_sim DESC, neighbor_id) AS rnk
       |  FROM directed
       |)""".stripMargin

  /** The LPA WITH-chain shared by the emb_communities and
    * emb_modularity oracles: mutual-kNN edges (`mut`), the node set, and
    * `lpaIters` unrolled propagation rounds ending at
    * `lab<lpaIters>(id, label)`. */
  private lazy val lpaCtes: String = {
    val iterCtes = (1 to lpaIters).map { i =>
      val prev = s"lab${i - 1}"
      s"""nb$i AS (
         |  SELECT m.a, l.label FROM mut m JOIN $prev l ON m.b = l.id
         |), cnt$i AS (
         |  SELECT a, label, count(*) AS c FROM nb$i GROUP BY 1, 2
         |), mx$i AS (
         |  SELECT a, max(c) AS mc FROM cnt$i GROUP BY 1
         |), best$i AS (
         |  SELECT cnt$i.a AS a, min(cnt$i.label) AS new_label
         |  FROM cnt$i JOIN mx$i ON cnt$i.a = mx$i.a AND cnt$i.c = mx$i.mc
         |  GROUP BY 1
         |), lab$i AS (
         |  SELECT id, coalesce(b.new_label, id) AS label
         |  FROM nodes LEFT JOIN best$i b ON id = b.a
         |)""".stripMargin
    }.mkString(",\n")
    s"""$knnRankedCtes, knn AS (
       |  SELECT vec_id AS a, neighbor_id AS b FROM ranked WHERE rnk <= $knnGraphK
       |), mut AS (
       |  SELECT a, b FROM knn INTERSECT SELECT b, a FROM knn
       |), nodes AS (
       |  SELECT vec_id AS id FROM embeddings
       |), lab0 AS (
       |  SELECT id, id AS label FROM nodes
       |),
       |$iterCtes""".stripMargin
  }

  /** One unrolled Lloyd round per iteration for the PQ oracle: assign
    * every (vector, subspace) to its nearest centroid by EXACT integer
    * squared distance (BIGINT sums — associative, so DuckDB's execution
    * order is irrelevant), then update centroids as round(sum/count),
    * keeping the previous centroid for empty clusters (the LEFT JOIN /
    * COALESCE mirrors Similarity.pqCodebooks' clone-then-overwrite).
    * Training reads `qt` — the pqTrainMod hash sample — exactly as the
    * Scala side Lloyd-iterates only its sampled training frame. */
  private def pqIterCtes(iters: Int): String = (1 to iters).map { i =>
    val prev = s"cent${i - 1}"
    s"""dist$i AS (
       |  SELECT qt.vec_id, qt.j, ct.c,
       |         sum((qt.xq - ct.cv) * (qt.xq - ct.cv)) AS d
       |  FROM qt JOIN $prev ct ON ct.j = qt.j AND ct.pos = qt.pos
       |  GROUP BY 1, 2, 3
       |), asg$i AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT vec_id, j, c,
       |           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
       |    FROM dist$i) WHERE rn = 1
       |), sums$i AS (
       |  SELECT a.j, a.c, qt.pos, sum(qt.xq) AS s, count(*) AS n
       |  FROM asg$i a JOIN qt ON qt.vec_id = a.vec_id AND qt.j = a.j
       |  GROUP BY 1, 2, 3
       |), cent$i AS (
       |  SELECT p.j, p.c, p.pos,
       |         COALESCE(CAST(round(CAST(s.s AS DOUBLE) / s.n) AS BIGINT), p.cv) AS cv
       |  FROM $prev p LEFT JOIN sums$i s
       |    ON s.j = p.j AND s.c = p.c AND s.pos = p.pos
       |)""".stripMargin
  }.mkString(", ")

  /** The exact top-k rank of each query's neighbors as CTE `name`, over
    * `from(query_id, neighbor_id, cos_sim)`: cosine descending, ties by
    * neighbor id. */
  private def annRankedSql(name: String, from: String): String =
    s"""$name AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM $from
       |)""".stripMargin

  /** The top-[[annK]] answer of the ANN rows over their `scored` pairs. */
  private val annTopkSql: String =
    s"""${annRankedSql("ranked", "scored")}
       |SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= $annK ORDER BY query_id, rank""".stripMargin

  /** The full PQ-pipeline CTE chain (normalize → fixed-point quantize →
    * sampled Lloyd training → codes → integer ADC shortlist →
    * exact-cosine re-rank), ending in `pqranked(query_id, neighbor_id,
    * cos_sim, rank)`. ONE definition shared by the `ann_topk_pq` oracle
    * and the recall report, so the replayed pipeline can never drift
    * between the two. */
  private lazy val pqChainCtes: String =
    s"""nrm AS (
       |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
       |), qlong AS (
       |  SELECT vec_id, len(embedding) AS dim,
       |         unnest(range(0, len(embedding))) AS idx,
       |         unnest(list_transform(embedding, x ->
       |           CASE WHEN nrm = 0 THEN CAST(0 AS BIGINT)
       |                ELSE CAST(round(CAST(x AS DOUBLE) / nrm * $pqScaleSql.0) AS BIGINT)
       |           END)) AS xq
       |  FROM nrm
       |), qs AS (
       |  SELECT vec_id, CAST(idx // (dim // $pqM) AS INTEGER) AS j,
       |         CAST(idx % (dim // $pqM) AS INTEGER) AS pos, xq
       |  FROM qlong
       |), qt AS (
       |  -- TRAINING sample (pqTrainMod): Lloyd rounds fit the books on
       |  -- this slice only; codes/ADC below still cover every vector
       |  SELECT * FROM qs
       |  WHERE ${h60("CAST(vec_id AS VARCHAR)")} % $pqTrainMod = 0
       |), seeds AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c
       |  FROM (SELECT vec_id FROM embeddings
       |        WHERE ${h60("CAST(vec_id AS VARCHAR)")} % $pqTrainMod = 0
       |        ORDER BY vec_id LIMIT $pqKSub)
       |), cent0 AS (
       |  SELECT s.c, qt.j, qt.pos, qt.xq AS cv
       |  FROM seeds s JOIN qt ON qt.vec_id = s.vec_id
       |), ${pqIterCtes(pqIters)}, codesd AS (
       |  SELECT qs.vec_id, qs.j, ct.c,
       |         sum((qs.xq - ct.cv) * (qs.xq - ct.cv)) AS d
       |  FROM qs JOIN cent$pqIters ct ON ct.j = qs.j AND ct.pos = qs.pos
       |  GROUP BY 1, 2, 3
       |), codes AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT vec_id, j, c,
       |           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
       |    FROM codesd) WHERE rn = 1
       |), lut AS (
       |  SELECT qq.vec_id AS query_id, ct.j, ct.c, sum(qq.xq * ct.cv) AS lv
       |  FROM qs qq JOIN cent$pqIters ct ON ct.j = qq.j AND ct.pos = qq.pos
       |  WHERE qq.vec_id % $annQueryStride = 0
       |  GROUP BY 1, 2, 3
       |), adc AS (
       |  SELECT l.query_id, cd.vec_id AS neighbor_id, sum(l.lv) AS adc_score
       |  FROM codes cd JOIN lut l ON l.j = cd.j AND l.c = cd.c
       |  WHERE cd.vec_id <> l.query_id
       |  GROUP BY 1, 2
       |), short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY adc_score DESC, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= $pqShortlist
       |), rer AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         round($cosDot / (a.nrm * b.nrm), 6) AS cos_sim
       |  FROM short s JOIN nrm a ON a.vec_id = s.query_id
       |               JOIN nrm b ON b.vec_id = s.neighbor_id
       |), ${annRankedSql("pqranked", "rer")}""".stripMargin

  /** The SQ8 pipeline CTE chain (per-vector max-abs scale → int8 codes →
    * exact integer quantized-cosine top-k), ending in
    * `sq8ranked(query_id, neighbor_id, cos_sim_q, rank)` — shared by the
    * `ann_topk_sq8` oracle and the recall report. */
  private lazy val sq8ChainCtes: String =
    s"""scales AS (
       |  SELECT vec_id,
       |         CASE WHEN mx = 0 THEN 1 ELSE mx END AS scale,
       |         embedding
       |  FROM (SELECT vec_id, embedding,
       |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
       |        FROM embeddings)
       |), coded AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / scale + 0.5) AS BIGINT)) AS codes
       |  FROM scales
       |), nsq AS (
       |  SELECT vec_id, codes,
       |         list_reduce([CAST(0 AS BIGINT)] ||
       |           list_transform(codes, x -> x * x), (a, b) -> a + b) AS nsq
       |  FROM coded
       |), sq8scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         round(CAST(list_reduce([CAST(0 AS BIGINT)] ||
       |             list_transform(range(1, len(a.codes) + 1),
       |               i -> a.codes[i] * b.codes[i]), (x, y) -> x + y) AS DOUBLE)
       |           / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))), 6) AS cos_sim_q
       |  FROM (SELECT * FROM nsq WHERE vec_id % $annQueryStride = 0 AND nsq > 0) a
       |  JOIN nsq b ON a.vec_id <> b.vec_id AND b.nsq > 0
       |), sq8ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim_q,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim_q DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM sq8scored
       |)""".stripMargin

  /** BM25 scoring CTE chain (ends in `bm25_scored`) — identical
    * expression TREE to Search.bm25TopK: same folded literals
    * ((k1+1)=2.2, (1-b)=0.25), same operand order, one final round.
    * Shared by the plain `search_bm25` oracle and the RRF fusion. */
  private lazy val bm25ScoredCte: String = {
    val ts = bm25Terms
    val inList = ts.map(t => s"'$t'").mkString(", ")
    def tfCase(i: Int) =
      s"CAST(sum(CASE WHEN token = '${ts(i)}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_$i"
    def dfCase(i: Int) =
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i"
    def termScore(i: Int) =
      s"""CASE WHEN tf_$i > 0 THEN
         |  ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5)
         |           / (CAST(df_$i AS DOUBLE) + 0.5))
         |  * (CAST(tf_$i AS DOUBLE) * 2.2
         |     / (CAST(tf_$i AS DOUBLE)
         |        + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))
         |ELSE CAST(0.0 AS DOUBLE) END""".stripMargin
    def matchedCase(i: Int) = s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END"
    s"""$tokCte,
       |base AS (SELECT doc_id, len(ws) AS dl, ws FROM toks),
       |corpus AS (
       |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM base
       |), occ AS (
       |  SELECT doc_id, dl, unnest(ws) AS token FROM base
       |), perdoc AS (
       |  SELECT doc_id, min(dl) AS dl, ${ts.indices.map(tfCase).mkString(", ")}
       |  FROM occ WHERE token IN ($inList) GROUP BY doc_id
       |), dfs AS (
       |  SELECT ${ts.indices.map(dfCase).mkString(", ")} FROM perdoc
       |), bm25_scored AS (
       |  SELECT doc_id,
       |    CAST(${ts.indices.map(matchedCase).mkString(" + ")} AS BIGINT)
       |      AS n_matched_terms,
       |    round(${ts.indices.map(termScore).mkString("\n+ ")}, 6) AS bm25
       |  FROM perdoc,
       |       (SELECT n_docs, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |          AS avgdl FROM corpus) c,
       |       dfs
       |)""".stripMargin
  }

  /** DSIR importance-score CTE chain (ends in `imp`) — shared by the
    * scoring oracle and the top-N selection oracle. */
  private val importanceCte: String =
    s"""$tokCte,
       |occ AS (SELECT doc_id, unnest(ws) AS w FROM toks),
       |tgt AS (SELECT doc_id,
       |               source IN ('src0','src1','src2','src3','src4') AS is_target
       |        FROM documents),
       |cnt AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS ac,
       |         CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS tc
       |  FROM occ JOIN tgt USING (doc_id) GROUP BY 1
       |),
       |per AS (
       |  SELECT occ.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(sum(((tc + 1) * 1000000) // (ac + 1)) AS BIGINT) AS imp_sum
       |  FROM occ JOIN cnt USING (w) GROUP BY 1
       |),
       |imp AS (
       |  SELECT d.doc_id, d.source,
       |         coalesce(p.n_tokens, 0) AS n_tokens,
       |         coalesce(p.imp_sum, 0) AS imp_sum,
       |         CAST(coalesce(p.imp_sum // p.n_tokens, 0) AS BIGINT) AS imp_mean
       |  FROM documents d LEFT JOIN per p USING (doc_id)
       |)""".stripMargin

  private val mhCols = (0 until numHashes).map(i =>
    s"min(${h60(s"'$i|' || shingle")}) AS mh$i").mkString(",\n         ")

  private def bandSelectsFor(r: Int): String =
    (0 until numHashes / r).map { b =>
      val key = (0 until r)
        .map(x => s"CAST(mh${b * r + x} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n  ")

  private val bandSelects = bandSelectsFor(rowsPerBand)

  /** The exact pairs `exact(d1, d2)` at the Jaccard threshold; expects
    * `common` and `sizes` in scope. The truth the LSH recall rows score
    * their candidates against. */
  private val exactPairsCte =
    s"""exact AS (
       |  SELECT d1, d2 FROM (
       |    SELECT common.d1, common.d2,
       |           round(CAST(common AS DOUBLE) / CAST(s1.n + s2.n - common AS DOUBLE), 6) AS jaccard
       |    FROM common
       |    JOIN sizes s1 ON common.d1 = s1.doc_id
       |    JOIN sizes s2 ON common.d2 = s2.doc_id)
       |  WHERE jaccard >= $jaccardThreshold
       |)""".stripMargin

  /** The MinHash signature CTE `sig(doc_id, mh0..)` over the shingles `sh`. */
  private val minhashSigCte =
    s"""sig AS (
       |  SELECT doc_id,
       |         $mhCols
       |  FROM sh GROUP BY doc_id
       |)""".stripMargin

  /** [[minhashSigCte]] plus its LSH bands `bands(doc_id, band, bkey)` at
    * the default rows per band. */
  private val lshBandsCtes =
    s"""$minhashSigCte, bands AS (
       |  $bandSelects
       |)""".stripMargin

  private lazy val nearDupIngestOracle: String =
    s"""$shingleCte,
         |$jaccardTail,
         |${jaccardPairsSql("jp")},
         |ed AS (
         |  SELECT d1 AS a, d2 AS b FROM jp WHERE jaccard >= $jaccardThreshold
         |  UNION ALL
         |  SELECT d2, d1 FROM jp WHERE jaccard >= $jaccardThreshold
         |),
         |w AS (SELECT doc_id, doc_id % 4 AS wave, n_chars, source FROM documents),
         |a0 AS (SELECT doc_id FROM w WHERE wave = 0),
         |a1 AS (
         |  SELECT w.doc_id FROM w WHERE wave = 1 AND NOT EXISTS (
         |    SELECT 1 FROM ed JOIN a0 ON ed.b = a0.doc_id WHERE ed.a = w.doc_id)
         |),
         |a01 AS (SELECT doc_id FROM a0 UNION ALL SELECT doc_id FROM a1),
         |a2 AS (
         |  SELECT w.doc_id FROM w WHERE wave = 2 AND NOT EXISTS (
         |    SELECT 1 FROM ed JOIN a01 ON ed.b = a01.doc_id WHERE ed.a = w.doc_id)
         |),
         |a012 AS (SELECT doc_id FROM a01 UNION ALL SELECT doc_id FROM a2),
         |a3 AS (
         |  SELECT w.doc_id FROM w WHERE wave = 3 AND NOT EXISTS (
         |    SELECT 1 FROM ed JOIN a012 ON ed.b = a012.doc_id WHERE ed.a = w.doc_id)
         |),
         |adm AS (SELECT doc_id FROM a012 UNION ALL SELECT doc_id FROM a3)
         |${docWaveCensusSql("w JOIN adm USING (doc_id)")}""".stripMargin

  /** The per-wave census of admitted documents (the twin of
    * `docIngestCensus`) over `from`, which carries `wave`. */
  private def docWaveCensusSql(from: String): String =
    s"""SELECT wave,
       |       count(*) AS n_admitted,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |       count(DISTINCT source) AS n_sources,
       |       min(doc_id) AS min_doc,
       |       max(doc_id) AS max_doc
       |FROM $from
       |GROUP BY wave ORDER BY wave""".stripMargin

  private lazy val semDedupIngestOracle: String =
    s"""WITH n AS (
         |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
         |), ed AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
         |  WHERE round($cosDot / (a.nrm * b.nrm), 6) >= $semIngestThreshold
         |),
         |w AS (SELECT vec_id, vec_id % 4 AS wave FROM embeddings),
         |a0 AS (SELECT vec_id FROM w WHERE wave = 0),
         |a1 AS (
         |  SELECT w.vec_id FROM w WHERE wave = 1 AND NOT EXISTS (
         |    SELECT 1 FROM ed JOIN a0 ON ed.b = a0.vec_id WHERE ed.a = w.vec_id)
         |),
         |a01 AS (SELECT vec_id FROM a0 UNION ALL SELECT vec_id FROM a1),
         |a2 AS (
         |  SELECT w.vec_id FROM w WHERE wave = 2 AND NOT EXISTS (
         |    SELECT 1 FROM ed JOIN a01 ON ed.b = a01.vec_id WHERE ed.a = w.vec_id)
         |),
         |a012 AS (SELECT vec_id FROM a01 UNION ALL SELECT vec_id FROM a2),
         |a3 AS (
         |  SELECT w.vec_id FROM w WHERE wave = 3 AND NOT EXISTS (
         |    SELECT 1 FROM ed JOIN a012 ON ed.b = a012.vec_id WHERE ed.a = w.vec_id)
         |),
         |adm AS (SELECT vec_id FROM a012 UNION ALL SELECT vec_id FROM a3)
         |SELECT wave,
         |       count(*) AS n_admitted,
         |       CAST(sum(vec_id) AS BIGINT) AS sum_vec,
         |       min(vec_id) AS min_vec,
         |       max(vec_id) AS max_vec
         |FROM w JOIN adm USING (vec_id)
         |GROUP BY wave ORDER BY wave""".stripMargin

  /** Winnowing over `toks`: the k-gram hashes `g(doc_id, i, n_grams, h)`
    * and their sliding-window minima `w(doc_id, i, n_grams, wmin)`. */
  private val winnowCtes: String =
    s"""g AS (
       |  SELECT doc_id, i, len(ws) - ${shingleK - 1} AS n_grams,
       |         ${h60(s"ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")} AS h
       |  FROM toks, unnest(range(1, len(ws) - ${shingleK - 2})) AS u(i)
       |  WHERE len(ws) >= $shingleK
       |),
       |w AS (
       |  SELECT doc_id, i, n_grams,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN CURRENT ROW AND ${winnowW - 1} FOLLOWING) AS wmin
       |  FROM g
       |)""".stripMargin

  /** The synthetic per-doc URL the url queries parse (no line may begin
    * with '||': the outer stripMargin would eat it). */
  private val urlSql: String =
    """'https://www.site' || CAST(doc_id % 7 AS VARCHAR) ||
      |           CASE WHEN doc_id % 3 = 0 THEN '.com'
      |                   WHEN doc_id % 3 = 1 THEN '.org' ELSE '.net' END ||
      |           '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
      |           CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed' ELSE '' END ||
      |           CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END""".stripMargin

  /** The registrable domain of `url` (the twin of `Urls.registrableDomain`). */
  private val urlDomainSql: String =
    s"""regexp_extract(
       |      regexp_replace(regexp_replace(
       |        regexp_extract(url, '${graft.corpus.Urls.hostPattern}', 1),
       |        '^[^@/]*@', ''), ':[0-9]+$$', ''),
       |      '${graft.corpus.Urls.registrableDomainPattern}', 1)""".stripMargin

  /** LSH candidate pairs `name(d1, d2)`: docs sharing a band key in `bands`. */
  private def lshCandSql(name: String, bands: String): String =
    s"""$name AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM $bands a JOIN $bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |)""".stripMargin

  /** The LSH score columns from `n_exact`, `n_candidates`, `n_true_pos`. */
  private val lshScoreSql: String =
    """CAST(n_candidates AS BIGINT) AS n_candidates,
      |       CAST(n_true_pos AS BIGINT) AS n_true_pos,
      |       CASE WHEN n_candidates = 0 THEN 0.0
      |            ELSE round(CAST(n_true_pos AS DOUBLE) / CAST(n_candidates AS DOUBLE), 6)
      |       END AS precision,
      |       CASE WHEN n_exact = 0 THEN 0.0
      |            ELSE round(CAST(n_true_pos AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
      |       END AS recall""".stripMargin

  /** Exact cosine of every ANN query vector (`vec_id` on the query stride,
    * side `a` of `norms`) against side `b`, joined as `join`, as CTE
    * `name(query_id, neighbor_id, cos_sim)`. */
  private def annScoredSql(name: String, join: String): String =
    s"""$name AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         round($cosDot / (a.nrm * b.nrm), 6) AS cos_sim
       |  FROM (SELECT * FROM norms WHERE vec_id % $annQueryStride = 0) a
       |  JOIN $join
       |)""".stripMargin

  /** The top-[[annK]] (query_id, neighbor_id) set of scored pairs `from`. */
  private def annTopIdsSql(name: String, from: String): String =
    s"""$name AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos_sim DESC, neighbor_id) AS rank
       |    FROM $from) WHERE rank <= $annK
       |)""".stripMargin

  /** The brute-force top-k truth `btop` over `norms`, which the recall
    * rows score every index against. */
  private val bruteTopCtes: String =
    annScoredSql("bscored", "norms b ON a.vec_id <> b.vec_id") + ", " +
      annTopIdsSql("btop", "bscored")

  /** IVF with centroid-per-label buckets: fixed-point centroids, each
    * vector's nearest bucket `assigned(vec_id, bucket)`, and each query's
    * three nearest buckets as CTE `probes(query_id, qbucket)`. */
  private def ivfProbeCtes(probes: String): String =
    s"""comp AS (
       |  SELECT label, pos, CAST(embedding[pos] AS DOUBLE) AS x
       |  FROM (SELECT label, embedding,
       |               unnest(range(1, len(embedding) + 1)) AS pos
       |        FROM embeddings) t
       |), sums AS (
       |  SELECT label, pos,
       |         CAST(sum(CAST(round(x * 1048576.0, 0) AS BIGINT)) AS BIGINT) AS s,
       |         count(*) AS n
       |  FROM comp GROUP BY 1, 2
       |), cent AS (
       |  SELECT label AS cl,
       |         list(CAST(s AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) ORDER BY pos) AS cv
       |  FROM sums GROUP BY 1
       |), dists AS (
       |  SELECT e.vec_id, c.cl,
       |         list_reduce([CAST(0 AS DOUBLE)] ||
       |           list_transform(range(1, len(e.embedding) + 1),
       |             i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
       |                * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])),
       |           (x, y) -> x + y) AS d
       |  FROM embeddings e, cent c
       |), assigned AS (
       |  SELECT vec_id, cl AS bucket
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                    ORDER BY d, cl) AS rn FROM dists)
       |  WHERE rn = 1
       |), $probes AS (
       |  SELECT vec_id AS query_id, cl AS qbucket
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                    ORDER BY d, cl) AS rn FROM dists)
       |  WHERE rn <= 3 AND vec_id % $annQueryStride = 0
       |)""".stripMargin

  /** The stop-word language vote over `c_<lang>` counts and `c_zh`. */
  private val langPredSql: String =
    """CASE WHEN c_zh > 0 THEN 'zh'
      |              WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und'
      |              WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en'
      |              WHEN c_de = greatest(c_de, c_fr, c_es) THEN 'de'
      |              WHEN c_fr = greatest(c_fr, c_es) THEN 'fr'
      |              ELSE 'es' END""".stripMargin

  /** The median n_chars per source, `med(source, med)` (lower median). */
  private val sourceMedianCte: String =
    """med AS (
      |  SELECT source, n_chars AS med FROM (
      |    SELECT source, n_chars,
      |           row_number() OVER (PARTITION BY source
      |             ORDER BY n_chars, doc_id) AS rn,
      |           count(*) OVER (PARTITION BY source) AS n
      |    FROM documents)
      |  WHERE rn = (n + 1) // 2
      |)""".stripMargin

  /** Each doc's shard under both layouts, `m(layout, shard, doc_id)`:
    * 'hash' (hash60 mod nShards) and 'range' (doc_id div pruneSpan). */
  private val layoutShardsCte: String =
    s"""m AS (
       |  SELECT 'hash' AS layout,
       |         ${h60("'shard|' || CAST(doc_id AS VARCHAR)")} % $nShards AS shard,
       |         doc_id
       |  FROM documents
       |  UNION ALL
       |  SELECT 'range', doc_id // $pruneSpan, doc_id FROM documents
       |)""".stripMargin

  def oracles: Map[String, String] = Map(

    "text_token_stats" ->
      s"""$tokCte
         |SELECT doc_id,
         |       CAST(len(ws) AS INTEGER) AS n_tokens,
         |       CAST(len(list_distinct(ws)) AS INTEGER) AS n_uniq_tokens,
         |       CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS INTEGER) AS total_token_chars,
         |       CASE WHEN len(ws) = 0 THEN 0.0 ELSE
         |         round(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |               / CAST(len(ws) AS DOUBLE), 6) END AS mean_token_len,
         |       CASE WHEN len(ws) = 0 THEN 0.0 ELSE
         |         round(CAST(len(list_distinct(ws)) AS DOUBLE)
         |               / CAST(len(ws) AS DOUBLE), 6) END AS type_token_ratio
         |FROM toks JOIN documents USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "text_lang_id" ->
      s"""WITH scored AS (
         |  SELECT lang,
         |         $langCounts,
         |         len(regexp_extract_all(text, '${T.cjkPattern}')) AS c_zh
         |  FROM documents
         |), pred AS (
         |  SELECT lang,
         |         $langPredSql AS lang_pred
         |  FROM scored
         |)
         |SELECT lang, lang_pred, count(*) AS n_docs
         |FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,

    "text_quality" ->
      s"""$tokCte,
         |feats AS (
         |  SELECT doc_id,
         |         CAST(len(ws) AS INTEGER) AS n_tokens,
         |         $stopRatioSql AS sr,
         |         $symbolRatioSql AS nar
         |  FROM toks JOIN documents USING (doc_id)
         |)
         |SELECT doc_id, n_tokens,
         |       round(sr, 6) AS stopword_ratio,
         |       round(nar, 6) AS non_alnum_ratio,
         |       ${qualitySql("n_tokens", "sr", "nar")} AS quality_score
         |FROM feats ORDER BY doc_id""".stripMargin,

    "text_oov_rate" ->
      s"""$tokCte,
         |occ AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
         |vocab AS (
         |  SELECT tok FROM (SELECT tok, count(*) AS n FROM occ GROUP BY 1)
         |  ORDER BY n DESC, tok LIMIT 30
         |),
         |stats AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(sum(CASE WHEN tok IN (SELECT tok FROM vocab)
         |                       THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
         |  FROM occ GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(s.n_oov, 0) AS BIGINT) AS n_oov,
         |       CASE WHEN coalesce(s.n_tokens, 0) = 0 THEN 0.0
         |            ELSE round(CAST(s.n_oov AS DOUBLE) / CAST(s.n_tokens AS DOUBLE), 6)
         |       END AS oov_rate
         |FROM documents d LEFT JOIN stats s USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "text_pii_scrub" ->
      s"""WITH planted AS (
         |  SELECT doc_id,
         |         text || ' contact u' || CAST(doc_id AS VARCHAR)
         |           || '@example.com via 10.'
         |           || CAST(doc_id % 256 AS VARCHAR) || '.0.'
         |           || CAST(doc_id % 254 + 1 AS VARCHAR)
         |           || ' or +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${T.emailPattern}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${T.ipv4Pattern}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(t, '${T.phonePattern}')) AS BIGINT) AS n_phones,
         |  ${h60("regexp_replace(regexp_replace(regexp_replace(t, '" + T.emailPattern + "', '<EMAIL>', 'g'), '" +
              T.ipv4Pattern + "', '<IP>', 'g'), '" + T.phonePattern + "', '<PHONE>', 'g')")} AS scrub_hash
         |FROM planted ORDER BY doc_id""".stripMargin,

    "text_html_strip" -> {
      // the stripHtml regexp chain, verbatim in DuckDB ('g' = replace-all)
      val strip =
        "trim(regexp_replace(regexp_replace(" +
          "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
          "regexp_replace(regexp_replace(t, '<[^>]*>', ' ', 'g'), " +
          "'&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'), " +
          "'&quot;', '\"', 'g'), '&#39;', '''', 'g'), " +
          "'&amp;', '&', 'g'), '\\s+', ' ', 'g'))"
      s"""WITH planted AS (
         |  SELECT doc_id,
         |         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         |           || '</title></head><body><nav><a href="/home">Home</a></nav><p>'
         |           || text
         |           || '</p><p>&quot;fin&quot; &amp; &lt;done&gt;&nbsp;ok</p>'
         |           || '<div class="ad">AD</div></body></html>' AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '<[^>]*>')) AS BIGINT) AS n_tags,
         |  round(CAST(len(t) - len(regexp_replace(t, '<[^>]*>', '', 'g')) AS DOUBLE)
         |        / CAST(len(t) AS DOUBLE), 6) AS markup_ratio,
         |  ${h60(strip)} AS clean_hash
         |FROM planted ORDER BY doc_id""".stripMargin
    },

    "url_domain_stats" ->
      s"""WITH u AS (
         |  SELECT doc_id,
         |         $urlSql AS url
         |  FROM documents
         |), x AS (
         |  SELECT doc_id,
         |    $urlDomainSql AS domain,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(regexp_replace(
         |      regexp_replace(lower(url), '^[a-z][a-z0-9+.-]*://', ''),
         |      '#.*', ''), '\\?.*', ''), '^[^@/]*@', ''),
         |      '^([^/:]+):[0-9]+', '\\1'), '^www\\.', ''), '/+$$', '') AS canon,
         |    CASE WHEN len(regexp_extract_all(url,
         |      '${graft.corpus.Urls.trackingParamPattern}')) > 0
         |         THEN 1 ELSE 0 END AS tracked
         |  FROM u
         |)
         |SELECT domain, count(*) AS n_docs,
         |       count(DISTINCT canon) AS n_unique_canonical,
         |       CAST(sum(tracked) AS BIGINT) AS n_with_tracking
         |FROM x GROUP BY domain ORDER BY domain""".stripMargin,

    "corpus_domain_cap" ->
      s"""WITH u AS (
         |  SELECT doc_id, n_chars,
         |         $urlSql AS url
         |  FROM documents
         |), x AS (
         |  SELECT doc_id, n_chars,
         |    $urlDomainSql AS domain
         |  FROM u
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY domain
         |            ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM x
         |)
         |SELECT domain, count(*) AS n_total,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       CAST(sum(CASE WHEN rk <= $domainCapN THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN rk <= $domainCapN THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
         |       CAST(count(*) - sum(CASE WHEN rk <= $domainCapN THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |FROM r GROUP BY domain ORDER BY domain""".stripMargin,

    "text_fingerprint" ->
      s"""$shingleCte,
         |fp AS (
         |  SELECT doc_id,
         |         list_reduce(
         |           [CAST(0 AS BIGINT)] ||
         |           list_transform(range(1, length(substring(lower(trim(text)), 1, 200)) + 1),
         |             i -> CAST(ascii(substring(substring(lower(trim(text)), 1, 200), i, 1)) AS BIGINT)),
         |           (h, c) -> (h * 131 + c) % 1000000007) AS fp_rolling
         |  FROM documents
         |), mins AS (
         |  SELECT doc_id, min(${h60("shingle")}) AS fp_min_shingle FROM sh GROUP BY doc_id
         |)
         |SELECT d.doc_id, fp.fp_rolling, mins.fp_min_shingle
         |FROM documents d
         |JOIN fp ON d.doc_id = fp.doc_id
         |LEFT JOIN mins ON d.doc_id = mins.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "text_bpe_tokens" ->
      s"""$tokCte
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(text,
         |         '''(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'
         |         )) AS INTEGER) AS n_bpe_tokens,
         |       CAST(len(ws) AS INTEGER) AS n_ws_tokens,
         |       CASE WHEN len(ws) = 0 THEN 0.0 ELSE
         |         round(CAST(len(regexp_extract_all(text,
         |           '''(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'
         |           )) AS DOUBLE) / CAST(len(ws) AS DOUBLE), 6) END AS bpe_per_word
         |FROM toks JOIN documents USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      s"""$tokCte,
         |grams AS (
         |  SELECT doc_id, ws,
         |         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS g2,
         |         list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g3
         |  FROM toks
         |)
         |SELECT doc_id,
         |       CASE WHEN len(ws) = 0 THEN 0.0 ELSE
         |         round(CAST(1 AS DOUBLE) - CAST(len(list_distinct(ws)) AS DOUBLE)
         |               / CAST(len(ws) AS DOUBLE), 6) END AS rep_word,
         |       CASE WHEN len(g2) = 0 THEN 0.0 ELSE
         |         round(CAST(1 AS DOUBLE) - CAST(len(list_distinct(g2)) AS DOUBLE)
         |               / CAST(len(g2) AS DOUBLE), 6) END AS rep_2gram,
         |       CASE WHEN len(g3) = 0 THEN 0.0 ELSE
         |         round(CAST(1 AS DOUBLE) - CAST(len(list_distinct(g3)) AS DOUBLE)
         |               / CAST(len(g3) AS DOUBLE), 6) END AS rep_3gram
         |FROM grams ORDER BY doc_id""".stripMargin,

    "search_phrase" ->
      s"""$tokCte,
         |p1 AS (
         |  SELECT 'value table' AS phrase, doc_id, count(*) AS n_occ
         |  FROM (SELECT doc_id, unnest(range(1, len(ws))) AS i, ws
         |        FROM toks WHERE len(ws) >= 2) t
         |  WHERE ws[i] = 'value' AND ws[i+1] = 'table'
         |  GROUP BY doc_id
         |),
         |p2 AS (
         |  SELECT 'query key scan' AS phrase, doc_id, count(*) AS n_occ
         |  FROM (SELECT doc_id, unnest(range(1, len(ws) - 1)) AS i, ws
         |        FROM toks WHERE len(ws) >= 3) t
         |  WHERE ws[i] = 'query' AND ws[i+1] = 'key' AND ws[i+2] = 'scan'
         |  GROUP BY doc_id
         |)
         |SELECT phrase, doc_id, n_occ FROM p1
         |UNION ALL
         |SELECT phrase, doc_id, n_occ FROM p2
         |ORDER BY phrase, doc_id""".stripMargin,

    // planted-mojibake construction mirrored via chr(): 195/169 = 'Ã©'
    // (UTF-8 'é' decoded as Latin-1), 65533 = U+FFFD, 160-191 = the
    // Latin-1 continuation-byte range of the pair signature
    "text_mojibake" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         text
        |         || CASE WHEN doc_id % 4 = 0
        |                 THEN ' caf' || repeat(chr(195) || chr(169),
        |                                       CAST(doc_id % 3 + 1 AS INTEGER))
        |                 ELSE '' END
        |         || CASE WHEN doc_id % 7 = 0
        |                 THEN ' ' || repeat(chr(65533),
        |                                    CAST(doc_id % 2 + 1 AS INTEGER))
        |                 ELSE '' END AS t
        |  FROM documents
        |),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(t, chr(65533))) AS BIGINT) AS n_replacement,
        |         CAST(len(regexp_extract_all(t,
        |           chr(195) || '[' || chr(160) || '-' || chr(191) || ']')) AS BIGINT) AS n_mojibake,
        |         CAST(len(regexp_extract_all(t, '[^\x00-\x7F]')) AS BIGINT) AS n_nonascii,
        |         length(t) AS n
        |  FROM p
        |)
        |SELECT doc_id, n_replacement, n_mojibake, n_nonascii,
        |       CASE WHEN n = 0 THEN 1.0
        |            ELSE round(CAST(n - n_nonascii AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |       END AS ascii_ratio,
        |       CAST(CASE WHEN n_replacement > 0 OR n_mojibake > 0
        |                 THEN 1 ELSE 0 END AS BIGINT) AS suspect
        |FROM m ORDER BY doc_id""".stripMargin,

    "corpus_winnow" ->
      s"""$tokCte,
         |$winnowCtes,
         |f AS (
         |  SELECT DISTINCT doc_id, wmin FROM w
         |  WHERE i <= greatest(1, n_grams - ${winnowW - 1})
         |),
         |per AS (
         |  SELECT doc_id, count(*) AS n_fps,
         |         ${h60("array_to_string(list_sort(list(wmin)), ',')")} AS fp_set_hash
         |  FROM f GROUP BY doc_id
         |)
         |SELECT t.doc_id,
         |       CAST(greatest(0, len(ws) - ${shingleK - 1}) AS BIGINT) AS n_grams,
         |       CAST(coalesce(n_fps, 0) AS BIGINT) AS n_fps,
         |       coalesce(fp_set_hash, ${h60("''")}) AS fp_set_hash
         |FROM toks t LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "corpus_winnow_overlap" ->
      s"""$tokCte,
         |$winnowCtes,
         |f AS (
         |  SELECT DISTINCT doc_id, wmin AS fp FROM w
         |  WHERE i <= greatest(1, n_grams - ${winnowW - 1})
         |),
         |dfc AS (SELECT fp, count(*) AS df FROM f GROUP BY fp),
         |fk AS (SELECT f.doc_id, f.fp FROM f JOIN dfc USING (fp)
         |       WHERE df <= $maxShingleDf)
         |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
         |FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= 2
         |ORDER BY d1, d2""".stripMargin,

    "corpus_quality_floor" ->
      s"""$tokCte,
         |q AS (
         |  SELECT d.doc_id, d.source, d.n_chars, $qfpSql AS qfp
         |  FROM toks JOIN documents d USING (doc_id)
         |),
         |r AS (
         |  SELECT doc_id, source, n_chars, qfp,
         |         count(*) OVER (PARTITION BY source) AS n_src,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY qfp DESC, doc_id) AS rn
         |  FROM q
         |)
         |SELECT source,
         |       CAST(min(n_src) AS BIGINT) AS n_total,
         |       count(*) AS n_kept,
         |       min(qfp) AS floor_qfp,
         |       CAST(sum(n_chars) AS BIGINT) AS chars_kept
         |FROM r WHERE rn <= (n_src * 3 + 3) // 4
         |GROUP BY source ORDER BY source""".stripMargin,

    "corpus_sample_stratified" -> {
      val rateCase = (0 until 10).map(i =>
        s"WHEN 'src$i' THEN ${if (i % 2 == 0) 50 else 20}").mkString(" ")
      s"""WITH sampled AS (
         |  SELECT * FROM documents
         |  WHERE ${h60("'mix1|' || CAST(doc_id AS VARCHAR)")} % 100 <
         |        CASE source $rateCase ELSE 10 END
         |)
         |SELECT source, count(*) AS n_sampled,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM sampled GROUP BY source ORDER BY source""".stripMargin
    },

    "corpus_select_budget" ->
      s"""$tokCte,
         |feats AS (
         |  SELECT doc_id, source, n_chars,
         |         CAST(len(ws) AS INTEGER) AS n_tokens,
         |         $stopRatioSql AS sr,
         |         $symbolRatioSql AS nar
         |  FROM toks JOIN documents USING (doc_id)
         |), scored AS (
         |  SELECT doc_id, source, n_chars,
         |         ${qualitySql("n_tokens", "sr", "nar")} AS q
         |  FROM feats
         |), admitted AS (
         |  SELECT * FROM (
         |    SELECT doc_id, source, n_chars, q,
         |           sum(n_chars) OVER (PARTITION BY source ORDER BY q DESC, doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM scored
         |  ) WHERE cum <= 5000
         |)
         |SELECT source, count(*) AS n_selected,
         |       CAST(sum(n_chars) AS BIGINT) AS chars_selected,
         |       round(min(q), 6) AS worst_quality_kept
         |FROM admitted GROUP BY source ORDER BY source""".stripMargin,

    "corpus_chunk" ->
      s"""$tokCte,
         |starts AS (
         |  SELECT doc_id, ws, unnest(range(1, len(ws) + 1, 24)) AS s
         |  FROM toks
         |), chunks AS (
         |  SELECT doc_id,
         |         CAST((s - 1) // 24 AS INTEGER) AS chunk_idx,
         |         list_slice(ws, s, least(s + 31, len(ws))) AS chunk
         |  FROM starts
         |)
         |SELECT doc_id, chunk_idx,
         |       CAST(len(chunk) AS INTEGER) AS chunk_len,
         |       ${h60("array_to_string(chunk, ' ')")} AS chunk_hash
         |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin,

    "corpus_pack" ->
      s"""$tokCte,
         |pack AS (
         |  SELECT source, doc_id,
         |         CAST(len(ws) AS INTEGER) AS n_tokens,
         |         CAST(coalesce(sum(len(ws)) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
         |  FROM toks JOIN documents USING (doc_id)
         |)
         |SELECT source, doc_id, n_tokens, start_off,
         |       CAST(start_off // 512 AS BIGINT) AS start_bin,
         |       CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE
         |         (start_off + n_tokens - 1) // 512 - start_off // 512 + 1 END AS BIGINT) AS bins_spanned
         |FROM pack ORDER BY source, doc_id""".stripMargin,

    "dedup_keep" ->
      s"""${clusterChainSql(jaccardTail)},
         |drops AS (SELECT doc_id FROM clus WHERE doc_id <> canonical_id)
         |SELECT source, count(*) AS n_kept,
         |       CAST(sum(n_chars) AS BIGINT) AS kept_chars
         |FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
         |GROUP BY source ORDER BY source""".stripMargin,

    "dedup_exact" ->
      """SELECT source,
        |       count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_unique_texts,
        |       count(text) - count(DISTINCT md5(text)) AS n_dup_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""$shingleCte,
         |$jaccardTailCapped,
         |joined AS (
         |  SELECT d1, d2, common,
         |         round(CAST(common AS DOUBLE) / CAST(s1.n + s2.n - common AS DOUBLE), 6) AS jaccard
         |  FROM common
         |  JOIN sizes s1 ON d1 = s1.doc_id
         |  JOIN sizes s2 ON d2 = s2.doc_id
         |)
         |SELECT d1, d2, common, jaccard FROM joined
         |WHERE jaccard >= $jaccardThreshold
         |ORDER BY d1, d2""".stripMargin,

    "dedup_transitivity" ->
      s"""$shingleCte,
         |$jaccardTailCapped,
         |e AS (
         |  SELECT d1, d2 FROM common
         |  JOIN sizes s1 ON d1 = s1.doc_id
         |  JOIN sizes s2 ON d2 = s2.doc_id
         |  WHERE round(CAST(common AS DOUBLE) /
         |              CAST(s1.n + s2.n - common AS DOUBLE), 6)
         |          >= $jaccardThreshold
         |), deg AS (
         |  SELECT v, count(*) AS deg FROM (
         |    SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e)
         |  GROUP BY 1
         |), w AS (
         |  SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT)
         |    AS n_wedges FROM deg
         |), tri AS (
         |  SELECT count(*) AS n_triangles
         |  FROM e ab JOIN e bc ON ab.d2 = bc.d1
         |  JOIN e ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2
         |), ne AS (SELECT count(*) AS n_edges FROM e)
         |SELECT n_edges, n_wedges, n_triangles,
         |       CASE WHEN n_wedges = 0 THEN 0.0
         |            ELSE round(CAST(3 AS DOUBLE) * CAST(n_triangles AS DOUBLE) /
         |                       CAST(n_wedges AS DOUBLE), 6) END AS transitivity
         |FROM ne CROSS JOIN w CROSS JOIN tri""".stripMargin,

    "dedup_containment" ->
      s"""$shingleCte,
         |$jaccardTailCapped,
         |joined AS (
         |  SELECT d1, d2, common,
         |         round(greatest(CAST(common AS DOUBLE) / CAST(s1.n AS DOUBLE),
         |                        CAST(common AS DOUBLE) / CAST(s2.n AS DOUBLE)), 6) AS containment
         |  FROM common
         |  JOIN sizes s1 ON d1 = s1.doc_id
         |  JOIN sizes s2 ON d2 = s2.doc_id
         |)
         |SELECT d1, d2, common, containment FROM joined
         |WHERE containment >= $containmentThreshold
         |ORDER BY d1, d2""".stripMargin,

    "dedup_exact_normalized" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_raw,
        |       CAST(count(DISTINCT md5(trim(regexp_replace(regexp_replace(
        |         lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')))) AS BIGINT)
        |         AS n_unique_norm
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""$shingleCte,
         |$lshBandsCtes, cand AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_bands_matched
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |$jaccardTail,
         |joined AS (
         |  SELECT cand.d1, cand.d2, cand.n_bands_matched,
         |         round(CAST(common AS DOUBLE) / CAST(s1.n + s2.n - common AS DOUBLE), 6) AS jaccard
         |  FROM cand
         |  JOIN common ON cand.d1 = common.d1 AND cand.d2 = common.d2
         |  JOIN sizes s1 ON cand.d1 = s1.doc_id
         |  JOIN sizes s2 ON cand.d2 = s2.doc_id
         |)
         |SELECT d1, d2, n_bands_matched, jaccard FROM joined
         |WHERE jaccard >= $jaccardThreshold
         |ORDER BY d1, d2""".stripMargin,

    "dedup_lsh_eval" ->
      s"""$shingleCteSampled,
         |$lshBandsCtes, ${lshCandSql("cand", "bands")},
         |$jaccardTailCapped,
         |$exactPairsCte, m AS (
         |  SELECT (SELECT count(*) FROM exact) AS n_exact,
         |         (SELECT count(*) FROM cand) AS n_candidates,
         |         (SELECT count(*) FROM cand JOIN exact USING (d1, d2)) AS n_true_pos
         |)
         |SELECT CAST(n_exact AS BIGINT) AS n_exact,
         |       $lshScoreSql
         |FROM m""".stripMargin,

    "dedup_within_cross_source" ->
      s"""$clusterCte,
         |ps AS (
         |  SELECT p.d1, p.d2, a.source AS src1, b.source AS src2
         |  FROM pairs p
         |  JOIN documents a ON p.d1 = a.doc_id
         |  JOIN documents b ON p.d2 = b.doc_id
         |)
         |SELECT count(*) AS n_pairs,
         |       CAST(sum(CASE WHEN src1 = src2 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_within_source,
         |       CAST(sum(CASE WHEN src1 <> src2 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_cross_source,
         |       CAST(sum(CASE WHEN src1 = src2 THEN 1 ELSE 0 END) * 10000
         |         // greatest(count(*), 1) AS BIGINT) AS within_bps
         |FROM ps""".stripMargin,

    "dedup_method_agreement" ->
      s"""$shingleCte,
         |$lshBandsCtes, ${lshCandSql("cand", "bands")},
         |$jaccardTailCapped,
         |mh AS (
         |  SELECT cand.d1, cand.d2
         |  FROM cand
         |  JOIN common ON cand.d1 = common.d1 AND cand.d2 = common.d2
         |  JOIN sizes s1 ON cand.d1 = s1.doc_id
         |  JOIN sizes s2 ON cand.d2 = s2.doc_id
         |  WHERE round(CAST(common AS DOUBLE) / CAST(s1.n + s2.n - common AS DOUBLE), 6)
         |        >= $jaccardThreshold
         |), tk2 AS (
         |  SELECT doc_id, ${h60("tok")} AS h
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM toks)
         |), votes2 AS (
         |  SELECT doc_id,
         |         ${(0 until simhashBits).map(b =>
              s"CAST(sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v$b")
              .mkString(",\n         ")}
         |  FROM tk2 GROUP BY doc_id
         |), ssig AS (
         |  SELECT doc_id,
         |         CAST(${(0 until simhashBits).map(b =>
              s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS simhash
         |  FROM votes2
         |), shp AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM ssig a JOIN ssig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $simhashMaxHamming
         |), u AS (
         |  SELECT coalesce(mh.d1, shp.d1) AS d1, coalesce(mh.d2, shp.d2) AS d2,
         |         mh.d1 IS NOT NULL AS in_mh, shp.d1 IS NOT NULL AS in_sh
         |  FROM mh FULL OUTER JOIN shp ON mh.d1 = shp.d1 AND mh.d2 = shp.d2
         |)
         |SELECT CAST(sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_both,
         |       CAST(sum(CASE WHEN in_mh AND NOT in_sh THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_minhash_only,
         |       CAST(sum(CASE WHEN NOT in_mh AND in_sh THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_simhash_only,
         |       count(*) AS n_union,
         |       CAST(sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) * 1000000
         |         // greatest(count(*), 1) AS BIGINT) AS agreement_fp6
         |FROM u""".stripMargin,

    "corpus_source_overlap" ->
      s"""$shingleCte,
         |ss AS (
         |  SELECT DISTINCT d.source AS src, sh.shingle
         |  FROM sh JOIN documents d USING (doc_id)
         |), sz AS (SELECT src, count(*) AS n FROM ss GROUP BY 1),
         |common AS (
         |  SELECT a.src AS s1, b.src AS s2, count(*) AS n_common
         |  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.src < b.src
         |  GROUP BY 1, 2
         |)
         |SELECT s1, s2, z1.n AS n1, z2.n AS n2, n_common,
         |       n_common * 1000000 // (z1.n + z2.n - n_common) AS jaccard_fp6
         |FROM common
         |JOIN sz z1 ON z1.src = s1
         |JOIN sz z2 ON z2.src = s2
         |ORDER BY s1, s2""".stripMargin,

    "dedup_threshold_sweep" -> {
      val pts = sweepThresholds.map { t =>
        s"""SELECT CAST($t AS DOUBLE) AS threshold,
           |       (SELECT count(*) FROM joined WHERE jaccard >= $t) AS n_pairs,
           |       (SELECT count(DISTINCT d) FROM (
           |          SELECT d1 AS d FROM joined WHERE jaccard >= $t
           |          UNION ALL
           |          SELECT d2 FROM joined WHERE jaccard >= $t) u)
           |         AS n_docs_in_pairs""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$shingleCte,
         |$jaccardTailCapped,
         |joined AS (
         |  SELECT common.d1, common.d2,
         |         round(CAST(common AS DOUBLE) / CAST(s1.n + s2.n - common AS DOUBLE), 6) AS jaccard
         |  FROM common
         |  JOIN sizes s1 ON common.d1 = s1.doc_id
         |  JOIN sizes s2 ON common.d2 = s2.doc_id
         |)
         |$pts
         |ORDER BY threshold""".stripMargin
    },

    "dedup_lsh_sweep" -> {
      val perCfg = lshSweepConfigs.map { r =>
        s"""bands_$r AS (
           |  ${bandSelectsFor(r)}
           |), ${lshCandSql(s"cand_$r", s"bands_$r")}, m_$r AS (
           |  SELECT $r AS rows_per_band, ${numHashes / r} AS n_bands,
           |         (SELECT count(*) FROM exact) AS n_exact,
           |         (SELECT count(*) FROM cand_$r) AS n_candidates,
           |         (SELECT count(*) FROM cand_$r JOIN exact USING (d1, d2))
           |           AS n_true_pos
           |)""".stripMargin
      }.mkString(",\n")
      val unions = lshSweepConfigs.map(r => s"SELECT * FROM m_$r")
        .mkString("\n  UNION ALL\n  ")
      s"""$shingleCteSampled,
         |$minhashSigCte,
         |$jaccardTailCapped,
         |$exactPairsCte,
         |$perCfg,
         |u AS (
         |  $unions
         |)
         |SELECT rows_per_band, n_bands,
         |       CAST(n_exact AS BIGINT) AS n_exact,
         |       $lshScoreSql
         |FROM u ORDER BY rows_per_band""".stripMargin
    },

    "dedup_clusters" ->
      s"""$clusterCte
         |SELECT doc_id, canonical_id
         |FROM clus ORDER BY doc_id""".stripMargin,

    "dedup_cluster_sizes" ->
      s"""$clusterCte,
         |sz AS (SELECT canonical_id, count(*) AS cluster_size FROM clus GROUP BY 1)
         |SELECT cluster_size, count(*) AS n_clusters
         |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    "corpus_dup_by_source" ->
      s"""$clusterCte,
         |withc AS (
         |  SELECT d.doc_id, d.source, d.n_chars,
         |         coalesce(c.canonical_id, d.doc_id) AS canon,
         |         (c.canonical_id IS NOT NULL AND c.canonical_id <> d.doc_id)
         |           AS is_dup
         |  FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id
         |)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_shadow_docs,
         |       CAST(sum(CASE WHEN is_dup THEN n_chars ELSE 0 END) AS BIGINT)
         |         AS shadow_chars,
         |       count(DISTINCT canon) AS n_groups,
         |       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 10000
         |         // count(*) AS BIGINT) AS dup_bps
         |FROM withc GROUP BY source ORDER BY source""".stripMargin,

    "text_readability" ->
      """WITH per AS (
        |  SELECT source,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS w,
        |         CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS s,
        |         CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS BIGINT)
        |           AS v
        |  FROM documents
        |), agg AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(w) AS BIGINT) AS n_words,
        |         CAST(sum(s) AS BIGINT) AS n_sentences,
        |         CAST(sum(v) AS BIGINT) AS n_vowel_groups
        |  FROM per GROUP BY 1
        |)
        |SELECT source, n_docs, n_words, n_sentences, n_vowel_groups,
        |       390000 * n_words // greatest(n_sentences, 1)
        |         + 11800000 * n_vowel_groups // greatest(n_words, 1)
        |         - 15590000 AS fk_grade_fp6
        |FROM agg ORDER BY source""".stripMargin,

    "mm_audio_chunks" ->
      s"""WITH media AS (
         |  SELECT doc_id, source,
         |         5000 + ${h60("'dur|' || CAST(doc_id AS VARCHAR)")} % 595000
         |           AS duration_ms
         |  FROM documents
         |), chunks AS (
         |  SELECT doc_id, source, duration_ms,
         |         unnest(range(0, duration_ms, 25000)) AS start_ms
         |  FROM media
         |), c AS (
         |  SELECT doc_id, source, duration_ms,
         |         least(start_ms + 30000, duration_ms) - start_ms AS chunk_ms
         |  FROM chunks
         |)
         |SELECT source, count(DISTINCT doc_id) AS n_media,
         |       count(*) AS n_chunks,
         |       CAST(sum(chunk_ms) AS BIGINT) AS total_chunk_ms,
         |       CAST(sum(CASE WHEN chunk_ms < 10000 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_short_tails,
         |       max(duration_ms) AS max_duration_ms
         |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "emb_kmeans" -> kmeansOracleSql,

    "emb_silhouette" -> silhouetteOracleSql,

    "emb_outliers" -> embOutliersOracleSql,

    "ann_maxsim_topk" -> {
      val sl = 64 / maxsimSegs
      s"""WITH x AS (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           e -> CAST(round(CAST(e AS DOUBLE) * 1048576.0, 0) AS BIGINT))
         |           AS xf
         |  FROM embeddings
         |), q AS (SELECT xf AS qf FROM x WHERE vec_id = 0),
         |d AS (
         |  SELECT x.vec_id, t.i AS qi,
         |         max(CAST(list_aggregate(list_transform(range(1, ${sl + 1}),
         |           k -> xf[s.i * $sl + k] * qf[t.i * $sl + k]), 'sum')
         |           AS BIGINT)) AS m
         |  FROM x, q,
         |       (SELECT unnest(range(0, $maxsimSegs)) AS i) s,
         |       (SELECT unnest(range(0, $maxsimSegs)) AS i) t
         |  WHERE x.vec_id <> 0
         |  GROUP BY 1, 2
         |), sc AS (
         |  SELECT vec_id, CAST(sum(m) AS BIGINT) AS maxsim_fp
         |  FROM d GROUP BY 1
         |)
         |SELECT vec_id, maxsim_fp FROM sc
         |ORDER BY maxsim_fp DESC, vec_id LIMIT 10""".stripMargin
    },

    "corpus_size_series" ->
      s"""WITH d AS (
         |  SELECT source, n_chars,
         |         ${h60("'series|' || CAST(doc_id AS VARCHAR)")} % 1000 AS h
         |  FROM documents
         |)
         |SELECT 1 AS tier_pct, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       count(DISTINCT source) AS n_sources
         |FROM d WHERE h < 10
         |UNION ALL
         |SELECT 10, count(*), CAST(sum(n_chars) AS BIGINT),
         |       count(DISTINCT source)
         |FROM d WHERE h < 100
         |UNION ALL
         |SELECT 100, count(*), CAST(sum(n_chars) AS BIGINT),
         |       count(DISTINCT source)
         |FROM d WHERE h < 1000
         |ORDER BY tier_pct""".stripMargin,

    "vocab_growth" ->
      s"""$tokCte,
         |d AS (
         |  SELECT ${h60("'series|' || CAST(doc_id AS VARCHAR)")} % 1000 AS h,
         |         unnest(ws) AS token
         |  FROM toks
         |)
         |SELECT 1 AS tier_pct, count(*) AS n_occurrences,
         |       count(DISTINCT token) AS n_distinct_tokens
         |FROM d WHERE h < 10
         |UNION ALL
         |SELECT 10, count(*), count(DISTINCT token) FROM d WHERE h < 100
         |UNION ALL
         |SELECT 100, count(*), count(DISTINCT token) FROM d
         |ORDER BY tier_pct""".stripMargin,

    "emb_exact_dups" ->
      s"""WITH g AS (
         |  SELECT ${h60("array_to_string(list_transform(embedding, e -> CAST(CAST(round(CAST(e AS DOUBLE) * 1048576.0, 0) AS BIGINT) AS VARCHAR)), ',')")}
         |           AS dig,
         |         count(*) AS sz
         |  FROM embeddings GROUP BY 1
         |)
         |SELECT count(*) AS n_unique_vectors,
         |       CAST(sum(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) AS BIGINT)
         |         AS n_shadow_vectors,
         |       CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dup_groups,
         |       coalesce(max(CASE WHEN sz > 1 THEN sz END), 0)
         |         AS largest_group
         |FROM g""".stripMargin,

    "emb_norm_census" ->
      """WITH n AS (
        |  SELECT label,
        |         CAST(list_aggregate(list_transform(embedding,
        |           e -> CAST(round(CAST(e AS DOUBLE) * 1048576.0, 0) AS BIGINT)
        |                * CAST(round(CAST(e AS DOUBLE) * 1048576.0, 0) AS BIGINT)),
        |           'sum') AS BIGINT) // 1048576 AS n2s
        |  FROM embeddings
        |)
        |SELECT label, count(*) AS n_vecs,
        |       min(n2s) AS min_norm2_scaled,
        |       max(n2s) AS max_norm2_scaled,
        |       CAST(sum(n2s) AS BIGINT) AS sum_norm2_scaled,
        |       CAST(sum(n2s) AS BIGINT) // count(*) AS mean_norm2_scaled
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_dedup_funnel" ->
      s"""$clusterCte,
         |s1 AS (
         |  SELECT doc_id, text, n_chars FROM (
         |    SELECT doc_id, text, n_chars,
         |           row_number() OVER (PARTITION BY md5(text)
         |             ORDER BY doc_id) AS rn
         |    FROM documents) t WHERE rn = 1
         |), s2 AS (
         |  SELECT doc_id, n_chars FROM (
         |    SELECT doc_id, n_chars,
         |           row_number() OVER (PARTITION BY md5(trim(regexp_replace(
         |             regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
         |             '\\s+', ' ', 'g'))) ORDER BY doc_id) AS rn
         |    FROM s1) t WHERE rn = 1
         |), s3 AS (
         |  SELECT doc_id, n_chars FROM (
         |    SELECT s2.doc_id, s2.n_chars,
         |           row_number() OVER (PARTITION BY
         |             coalesce(c.canonical_id, s2.doc_id)
         |             ORDER BY s2.doc_id) AS rn
         |    FROM s2 LEFT JOIN clus c ON s2.doc_id = c.doc_id) t
         |  WHERE rn = 1
         |)
         |SELECT 0 AS stage, 'raw' AS stage_name, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents
         |UNION ALL
         |SELECT 1, 'exact', count(*), CAST(sum(n_chars) AS BIGINT) FROM s1
         |UNION ALL
         |SELECT 2, 'normalized', count(*), CAST(sum(n_chars) AS BIGINT) FROM s2
         |UNION ALL
         |SELECT 3, 'neardup', count(*), CAST(sum(n_chars) AS BIGINT) FROM s3
         |ORDER BY stage""".stripMargin,

    "corpus_constraints" ->
      """WITH s AS (
        |  SELECT count(*) AS n_rows,
        |         CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS v0,
        |         count(doc_id) - count(DISTINCT doc_id) AS v1,
        |         CAST(sum(CASE WHEN lang IS NULL OR lang NOT IN
        |           ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS BIGINT)
        |           AS v2,
        |         CAST(sum(CASE WHEN n_chars IS NULL OR n_chars < 1
        |           OR n_chars > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS v4
        |  FROM documents
        |), u AS (
        |  SELECT 'a_doc_id_not_null' AS check_name, n_rows, v0 AS n_violations FROM s
        |  UNION ALL SELECT 'b_doc_id_unique', n_rows, v1 FROM s
        |  UNION ALL SELECT 'c_lang_accepted', n_rows, v2 FROM s
        |  UNION ALL SELECT 'd_chars_in_range', n_rows, v3 FROM s
        |  UNION ALL SELECT 'e_text_nonempty', n_rows, v4 FROM s
        |)
        |SELECT check_name, n_rows, n_violations,
        |       n_violations = 0 AS passed
        |FROM u ORDER BY check_name""".stripMargin,

    "corpus_fk_audit" ->
      """WITH f AS (
        |  SELECT coalesce(d.source, '_no_doc') AS source,
        |         d.doc_id IS NOT NULL AS has_doc,
        |         e.vec_id IS NOT NULL AS has_vec
        |  FROM documents d FULL OUTER JOIN embeddings e
        |    ON d.doc_id = e.vec_id
        |)
        |SELECT source, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN has_doc AND has_vec THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_matched,
        |       CAST(sum(CASE WHEN has_doc AND NOT has_vec THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_docs_without_vec,
        |       CAST(sum(CASE WHEN NOT has_doc AND has_vec THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_vecs_without_doc
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_tokenizer_fertility" ->
      s"""WITH per AS (
         |  SELECT source, n_chars,
         |         CAST(len(regexp_extract_all(text,
         |           '''(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'
         |           )) AS BIGINT) AS nb,
         |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS nw
         |  FROM documents
         |), agg AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
         |         CAST(sum(nw) AS BIGINT) AS n_ws_tokens,
         |         CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         |  FROM per GROUP BY 1
         |)
         |SELECT source, n_docs, n_bpe_tokens, n_ws_tokens, n_chars_total,
         |       n_bpe_tokens * 10000 // greatest(n_ws_tokens, 1)
         |         AS fertility_bps,
         |       n_chars_total * 1000 // greatest(n_bpe_tokens, 1)
         |         AS chars_per_bpe_fp3
         |FROM agg ORDER BY source""".stripMargin,

    "mm_scene_cuts" ->
      s"""WITH $mmMediaFormatCte,
         |fr AS (
         |  SELECT doc_id, format, CAST(i AS INTEGER) AS frame_idx,
         |         ${h60("substring(hex(payload), (4 + i * 64) * 2 + 1, 32)")}
         |           AS frame_hash
         |  FROM media, range(0, 8) t(i)
         |  WHERE i < least((octet_length(payload) - 4) // 64, 8)
         |),
         |l AS (
         |  SELECT doc_id, format, frame_hash,
         |         lag(frame_hash) OVER (PARTITION BY doc_id ORDER BY frame_idx)
         |           AS prev
         |  FROM fr
         |)
         |SELECT format, count(DISTINCT doc_id) AS n_media,
         |       count(*) AS n_frames,
         |       CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> frame_hash
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
         |FROM l GROUP BY format ORDER BY format""".stripMargin,

    "layout_clustering_depth" ->
      s"""WITH $layoutShardsCte, man AS (
         |  SELECT layout, shard,
         |         min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |  FROM m GROUP BY 1, 2
         |), depth AS (
         |  SELECT a.layout, a.shard, CAST(count(*) AS BIGINT) AS depth
         |  FROM man a JOIN man b
         |    ON a.layout = b.layout
         |   AND a.min_doc <= b.max_doc AND a.max_doc >= b.min_doc
         |  GROUP BY 1, 2
         |)
         |SELECT layout, CAST(count(*) AS BIGINT) AS n_shards,
         |       max(depth) AS max_depth,
         |       CAST(sum(depth) AS BIGINT) * 1000000
         |         // CAST(count(*) AS BIGINT) AS avg_depth_ppm
         |FROM depth GROUP BY layout ORDER BY layout""".stripMargin,

    "layout_manifest_prune" ->
      s"""WITH $layoutShardsCte, man AS (
         |  SELECT layout, shard, count(*) AS n_docs,
         |         min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |  FROM m GROUP BY 1, 2
         |), mt AS (
         |  SELECT count(*) AS rows_matching FROM documents
         |  WHERE doc_id BETWEEN $pruneLo AND $pruneHi
         |)
         |SELECT layout, count(*) AS n_shards,
         |       CAST(sum(CASE WHEN min_doc <= $pruneHi AND max_doc >= $pruneLo
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
         |       CAST(sum(CASE WHEN min_doc <= $pruneHi AND max_doc >= $pruneLo
         |                     THEN n_docs ELSE 0 END) AS BIGINT) AS rows_scanned,
         |       max(rows_matching) AS rows_matching,
         |       CAST(sum(CASE WHEN min_doc <= $pruneHi AND max_doc >= $pruneLo
         |                THEN n_docs ELSE 0 END) * 10000
         |         // greatest(max(rows_matching), 1) AS BIGINT)
         |         AS amplification_bps
         |FROM man CROSS JOIN mt
         |GROUP BY layout ORDER BY layout""".stripMargin,

    "corpus_table_stats" -> tableStatsOracleSql,

    "layout_bloom_prune" -> {
      val probesValues = sketchProbes.map(p => s"('$p')").mkString(", ")
      s"""WITH t0 AS (
         |  SELECT ${h60("'shard|' || CAST(doc_id AS VARCHAR)")} % $nShards
         |           AS shard,
         |         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |              ELSE string_split_regex(trim(text), '\\s+') END AS ws
         |  FROM documents
         |), toks AS (
         |  SELECT DISTINCT shard, unnest(ws) AS token FROM t0
         |), pos AS (
         |  SELECT DISTINCT shard,
         |         ${h60("CAST(s.i AS VARCHAR) || '|' || token")} % $bloomM AS pos
         |  FROM toks, range($bloomD) s(i)
         |), probes(probe) AS (VALUES $probesValues),
         |pp AS (
         |  SELECT DISTINCT probe,
         |         ${h60("CAST(s.i AS VARCHAR) || '|' || probe")} % $bloomM AS pos
         |  FROM probes, range($bloomD) s(i)
         |), ppn AS (
         |  SELECT probe, count(*) AS n_pp FROM pp GROUP BY 1
         |), hit AS (
         |  SELECT p.shard, pp.probe, count(*) AS n_hit
         |  FROM pos p JOIN pp ON p.pos = pp.pos GROUP BY 1, 2
         |), maybe AS (
         |  SELECT probe, count(*) AS n_shards_maybe
         |  FROM hit JOIN ppn USING (probe) WHERE n_hit = n_pp GROUP BY 1
         |), act AS (
         |  SELECT probe, count(DISTINCT shard) AS n_shards_actual
         |  FROM toks JOIN probes ON token = probe GROUP BY 1
         |)
         |SELECT probes.probe, CAST($nShards AS BIGINT) AS n_shards,
         |       coalesce(n_shards_maybe, 0) AS n_shards_maybe,
         |       coalesce(n_shards_actual, 0) AS n_shards_actual,
         |       coalesce(n_shards_maybe, 0) - coalesce(n_shards_actual, 0)
         |         AS n_false_positive_shards
         |FROM probes
         |LEFT JOIN maybe USING (probe) LEFT JOIN act USING (probe)
         |ORDER BY probes.probe""".stripMargin
    },

    "search_facets" ->
      s"""WITH m AS (
         |  SELECT lang, source, n_chars FROM (
         |    SELECT lang, source, n_chars,
         |           CASE WHEN length(trim(text)) = 0
         |                THEN CAST([] AS VARCHAR[])
         |                ELSE string_split_regex(trim(text), '\\s+') END AS ws
         |    FROM documents) t
         |  WHERE list_contains(ws, '${bm25Terms.head}')
         |)
         |SELECT 'lang' AS facet_dim, lang AS facet_value,
         |       count(*) AS n_matches,
         |       CAST(sum(n_chars) AS BIGINT) AS match_chars
         |FROM m GROUP BY 2
         |UNION ALL
         |SELECT 'source', source, count(*),
         |       CAST(sum(n_chars) AS BIGINT)
         |FROM m GROUP BY 2
         |ORDER BY facet_dim, facet_value""".stripMargin,

    "events_forget" ->
      s"""WITH ev AS (
         |  SELECT event_type, user_id,
         |         CAST(round(value * 1000000, 0) AS BIGINT) AS v6
         |  FROM events
         |), dels AS (
         |  SELECT DISTINCT user_id FROM ev WHERE user_id % 13 = 0
         |), purged AS (
         |  SELECT event_type, count(*) AS n_purged,
         |         count(DISTINCT ev.user_id) AS n_users_purged,
         |         CAST(sum(v6) AS BIGINT) AS purged_value_fp6,
         |         CAST(sum(${h60("'tomb|' || CAST(ev.user_id AS VARCHAR)")}
         |           % 1073741824) AS BIGINT) AS tombstone_digest
         |  FROM ev JOIN dels USING (user_id) GROUP BY 1
         |), kept AS (
         |  SELECT event_type, count(*) AS n_after
         |  FROM ev WHERE user_id NOT IN (SELECT user_id FROM dels)
         |  GROUP BY 1
         |)
         |SELECT b.event_type, b.n_before,
         |       coalesce(k.n_after, 0) AS n_after,
         |       coalesce(p.n_purged, 0) AS n_purged,
         |       coalesce(p.n_users_purged, 0) AS n_users_purged,
         |       coalesce(p.purged_value_fp6, 0) AS purged_value_fp6,
         |       coalesce(p.tombstone_digest, 0) AS tombstone_digest
         |FROM (SELECT event_type, count(*) AS n_before FROM ev GROUP BY 1) b
         |LEFT JOIN kept k USING (event_type)
         |LEFT JOIN purged p USING (event_type)
         |ORDER BY b.event_type""".stripMargin,

    "corpus_filter_ablation" ->
      s"""$tokCte,
         |$clfPerDocCte, flags AS (
         |  SELECT CASE WHEN d.n_chars >= 200 THEN 'len_ok'
         |              ELSE 'len_low' END AS len_f,
         |         CASE WHEN d.lang = 'en' THEN 'lang_en'
         |              ELSE 'lang_other' END AS lang_f,
         |         CASE WHEN coalesce(p.score_fp, 0) > 0 THEN 'clf_keep'
         |              ELSE 'clf_drop' END AS clf_f,
         |         d.n_chars
         |  FROM documents d LEFT JOIN clfper p USING (doc_id)
         |)
         |SELECT coalesce(len_f, 'all') AS len_f,
         |       coalesce(lang_f, 'all') AS lang_f,
         |       coalesce(clf_f, 'all') AS clf_f,
         |       count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM flags
         |GROUP BY CUBE (len_f, lang_f, clf_f)
         |ORDER BY 1, 2, 3""".stripMargin,

    // The twin recomputes clusters, canonical-keys the split hash, and
    // re-derives the leakage count from its own assignment — a split
    // implementation keyed on raw doc_id instead of the canonical would
    // fail the hash on n_leaky_clusters, not just drift on counts.
    "corpus_split" ->
      s"""$clusterCte,
         |withc AS (
         |  SELECT d.doc_id, d.source, d.n_chars,
         |         coalesce(c.canonical_id, d.doc_id) AS canon
         |  FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id
         |),
         |labeled AS (
         |  SELECT source, n_chars, canon,
         |         CASE WHEN b < $trainPct THEN 'train'
         |              WHEN b < ${trainPct + valPct} THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM (SELECT *,
         |          ${h60(s"'$splitSalt|' || CAST(canon AS VARCHAR)")} % 100 AS b
         |        FROM withc)
         |),
         |leak AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_leaky_clusters FROM (
         |    SELECT canon FROM labeled GROUP BY canon
         |    HAVING count(DISTINCT split) > 1)
         |)
         |SELECT source, split, count(*) AS n_docs,
         |       count(DISTINCT canon) AS n_groups,
         |       CAST(sum(n_chars) AS BIGINT) AS split_chars,
         |       (SELECT n_leaky_clusters FROM leak) AS n_leaky_clusters
         |FROM labeled GROUP BY source, split ORDER BY source, split""".stripMargin,

    "dedup_simhash" ->
      s"""$tokCte,
         |tk AS (
         |  SELECT doc_id, ${h60("tok")} AS h
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM toks)
         |), votes AS (
         |  SELECT doc_id,
         |         ${(0 until simhashBits).map(b =>
                    s"CAST(sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v$b")
                    .mkString(",\n         ")}
         |  FROM tk GROUP BY doc_id
         |), sig AS (
         |  SELECT doc_id,
         |         CAST(${(0 until simhashBits).map(b =>
                    s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS simhash
         |  FROM votes
         |)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |       a.simhash AS sh1, b.simhash AS sh2,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $simhashMaxHamming
         |ORDER BY d1, d2""".stripMargin,

    "dedup_repeated_spans" ->
      s"""$spanCte,
         |st AS (SELECT span, count(*) AS occ FROM spans GROUP BY span)
         |SELECT s.doc_id,
         |       count(*) AS n_windows,
         |       CAST(sum(CASE WHEN st.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
         |       round(CAST(sum(CASE WHEN st.occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
         |FROM spans s JOIN st USING (span)
         |GROUP BY s.doc_id
         |ORDER BY s.doc_id""".stripMargin,

    "corpus_diff" ->
      """WITH prev AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS d
        |  FROM documents WHERE doc_id % 7 <> 0
        |), curr AS (
        |  SELECT doc_id, md5(text) AS d FROM documents WHERE doc_id % 11 <> 0
        |), j AS (
        |  SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
        |         CASE WHEN p.d IS NULL THEN 'added'
        |              WHEN c.d IS NULL THEN 'removed'
        |              WHEN p.d = c.d THEN 'unchanged'
        |              ELSE 'changed' END AS status
        |  FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id
        |)
        |SELECT status, count(*) AS n_docs,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM j GROUP BY status ORDER BY status""".stripMargin,

    "vocab_bpe_merges" -> bpeMergeOracle(bpeTrainMerges),

    "text_bpe_apply" -> bpeApplyOracle(bpeTrainMerges),

    "vocab_bpe_pairs" ->
      s"""$tokCte,
         |w0 AS (
         |  SELECT lower(unnest(ws)) AS w FROM toks
         |), wfreq AS (
         |  SELECT w, count(*) AS wf FROM w0
         |  WHERE regexp_matches(w, '^[a-z]+${"$"}') AND length(w) >= 2
         |  GROUP BY 1
         |), pairs AS (
         |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, wf
         |  FROM (SELECT w, wf, unnest(range(1, length(w))) AS i FROM wfreq) t
         |), agg AS (
         |  SELECT pair, CAST(sum(wf) AS BIGINT) AS n FROM pairs GROUP BY 1
         |)
         |SELECT pair, n FROM agg ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "corpus_drift" ->
      s"""WITH prevd AS (
         |  SELECT doc_id, source,
         |         CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0
         |), currd AS (
         |  SELECT doc_id, source, text FROM documents WHERE doc_id % 11 <> 0
         |), prevt AS (
         |  SELECT source, text,
         |         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |              ELSE string_split_regex(trim(text), '\\s+') END AS ws
         |  FROM prevd
         |), currt AS (
         |  SELECT source, text,
         |         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |              ELSE string_split_regex(trim(text), '\\s+') END AS ws
         |  FROM currd
         |), hp AS (
         |  SELECT source, least($qfpSql // 100000, 9) AS qb,
         |         count(*) AS n_p, CAST(sum(len(ws)) AS BIGINT) AS toks_p
         |  FROM prevt GROUP BY 1, 2
         |), hc AS (
         |  SELECT source, least($qfpSql // 100000, 9) AS qb,
         |         count(*) AS n_c, CAST(sum(len(ws)) AS BIGINT) AS toks_c
         |  FROM currt GROUP BY 1, 2
         |), j AS (
         |  SELECT coalesce(hp.source, hc.source) AS source,
         |         coalesce(n_p, 0) AS n_p, coalesce(n_c, 0) AS n_c,
         |         coalesce(toks_p, 0) AS toks_p, coalesce(toks_c, 0) AS toks_c
         |  FROM hp FULL OUTER JOIN hc ON hp.source = hc.source AND hp.qb = hc.qb
         |)
         |SELECT source,
         |       CAST(sum(n_p) AS BIGINT) AS n_prev,
         |       CAST(sum(n_c) AS BIGINT) AS n_curr,
         |       CAST(sum(toks_p) AS BIGINT) AS toks_prev,
         |       CAST(sum(toks_c) AS BIGINT) AS toks_curr,
         |       CAST(sum(abs(n_p - n_c)) AS BIGINT) AS hist_l1
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "emb_drift" ->
      """WITH comp AS (
        |  SELECT label, vec_id % 2 = 0 AS v1, pos,
        |         CAST(embedding[pos] AS DOUBLE) AS x
        |  FROM (SELECT label, vec_id, embedding,
        |               unnest(range(1, len(embedding) + 1)) AS pos
        |        FROM embeddings) t
        |), s AS (
        |  SELECT label, pos,
        |         CAST(sum(CASE WHEN v1 THEN CAST(round(x * 1048576.0, 0) AS BIGINT)
        |                       ELSE 0 END) AS BIGINT) AS s1,
        |         CAST(sum(CASE WHEN NOT v1 THEN CAST(round(x * 1048576.0, 0) AS BIGINT)
        |                       ELSE 0 END) AS BIGINT) AS s2,
        |         CAST(sum(CASE WHEN v1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN NOT v1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM comp GROUP BY 1, 2
        |)
        |, m AS (
        |  SELECT label, n1, n2,
        |         CASE WHEN n1 = 0 THEN 0
        |              ELSE (s1 - ((s1 % n1) + n1) % n1) // n1 END AS m1,
        |         CASE WHEN n2 = 0 THEN 0
        |              ELSE (s2 - ((s2 % n2) + n2) % n2) // n2 END AS m2
        |  FROM s
        |)
        |SELECT label, max(n1) AS n_v1, max(n2) AS n_v2,
        |       CAST(CASE WHEN max(n1) * max(n2) = 0 THEN 0
        |            ELSE sum(abs(m1 - m2))
        |            END AS BIGINT) AS l1_shift_fp
        |FROM m GROUP BY label ORDER BY label""".stripMargin,

    "corpus_boilerplate" ->
      s"""$spanCte,
         |st AS (
         |  SELECT span, count(*) AS occ, count(DISTINCT doc_id) AS n_docs
         |  FROM spans GROUP BY span
         |)
         |SELECT span, occ, n_docs FROM st WHERE occ >= 2
         |ORDER BY occ DESC, span LIMIT $boilerplateTopN""".stripMargin,

    "dedup_incremental" ->
      s"""$shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |shs AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
         |    FROM sh WHERE doc_id % 5 <> 4)
         |  WHERE df <= $maxShingleDf
         |),
         |common AS (
         |  SELECT a.doc_id AS store_id, b.doc_id AS batch_id, count(*) AS common
         |  FROM shs a JOIN sh b ON a.shingle = b.shingle
         |  WHERE b.doc_id % 5 = 4
         |  GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT store_id, batch_id,
         |         round(CAST(common AS DOUBLE) / CAST(s1.n + s2.n - common AS DOUBLE), 6) AS jaccard
         |  FROM common
         |  JOIN sizes s1 ON store_id = s1.doc_id
         |  JOIN sizes s2 ON batch_id = s2.doc_id
         |),
         |hits AS (
         |  SELECT batch_id AS doc_id, count(*) AS n_store_dups, max(jaccard) AS best_jaccard
         |  FROM pairs WHERE jaccard >= $jaccardThreshold GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       CAST(coalesce(h.n_store_dups, 0) AS BIGINT) AS n_store_dups,
         |       coalesce(h.best_jaccard, 0.0) AS best_jaccard,
         |       CAST(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS admitted
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % 5 = 4
         |ORDER BY d.doc_id""".stripMargin,

    "dedup_keep_best" ->
      s"""${clusterChainSql(jaccardTail)},
         |qual AS (
         |  SELECT doc_id,
         |         $textQualitySql AS q
         |  FROM toks JOIN documents USING (doc_id)
         |),
         |ranked AS (
         |  SELECT c.canonical_id, c.doc_id, qual.q,
         |         row_number() OVER (PARTITION BY c.canonical_id
         |                            ORDER BY qual.q DESC, c.doc_id) AS rn
         |  FROM clus c JOIN qual USING (doc_id)
         |)
         |SELECT canonical_id,
         |       CAST(count(*) AS BIGINT) AS n_members,
         |       CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_doc_id,
         |       max(CASE WHEN rn = 1 THEN q END) AS best_quality
         |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_embedding_cosine" ->
      s"""WITH norms AS (
         |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
         |), pairs AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2,
         |         round($cosDot / (a.nrm * b.nrm), 6) AS cos_sim
         |  FROM norms a JOIN norms b ON a.vec_id < b.vec_id
         |)
         |SELECT v1, v2, cos_sim FROM pairs
         |WHERE cos_sim >= $cosineThreshold
         |ORDER BY v1, v2""".stripMargin,

    "dedup_semantic" ->
      s"""WITH norms AS (
         |  SELECT vec_id, label, embedding, $normSql AS nrm FROM embeddings
         |), drops AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM norms a JOIN norms b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE round($cosDot / (a.nrm * b.nrm), 6) >= $cosineThreshold
         |)
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)
         |ORDER BY e.vec_id""".stripMargin,

    "dedup_embedding_lsh" ->
      s"""WITH norms AS (
         |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
         |), buckets AS (
         |  $bucketSelects
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
         |  FROM buckets a JOIN buckets b
         |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |), pairs AS (
         |  SELECT v1, v2, round($cosDot / (a.nrm * b.nrm), 6) AS cos_sim
         |  FROM cand JOIN norms a ON v1 = a.vec_id JOIN norms b ON v2 = b.vec_id
         |)
         |SELECT v1, v2, cos_sim FROM pairs
         |WHERE cos_sim >= $cosineThreshold
         |ORDER BY v1, v2""".stripMargin,

    // Chain in [[sq8ChainCtes]], shared with ann_recall_report.
    "ann_topk_sq8" ->
      s"""WITH $sq8ChainCtes
         |SELECT query_id, rank, neighbor_id, cos_sim_q FROM sq8ranked
         |WHERE rank <= $annK ORDER BY query_id, rank""".stripMargin,

    "ann_topk_brute" ->
      s"""WITH norms AS (
         |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
         |), ${annScoredSql("scored", "norms b ON a.vec_id <> b.vec_id")},
         |$annTopkSql""".stripMargin,

    "ann_topk_ivf_probes" ->
      s"""WITH ${ivfProbeCtes("probes")}, norms AS (
         |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
         |), scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round($cosDot / (a.nrm * b.nrm), 6) AS cos_sim
         |  FROM (SELECT n.vec_id, n.embedding, n.nrm, p.qbucket
         |        FROM norms n JOIN probes p ON p.query_id = n.vec_id) a
         |  JOIN (SELECT n.vec_id, n.embedding, n.nrm, s.bucket
         |        FROM norms n JOIN assigned s ON s.vec_id = n.vec_id) b
         |    ON a.qbucket = b.bucket AND a.vec_id <> b.vec_id
         |), $annTopkSql""".stripMargin,

    // One WITH-chain replay of brute truth + both IVF variants + the PQ
    // and SQ8 pipelines (their chains are the SAME fragments the
    // individual oracles run — [[pqChainCtes]]/[[sq8ChainCtes]]), recall
    // computed from the same top-k sets those oracles produce.
    "ann_recall_report" ->
      s"""WITH ${ivfProbeCtes("qprobes")}, norms AS (
         |  SELECT vec_id, label, embedding, $normSql AS nrm FROM embeddings
         |), $bruteTopCtes,
         |${annScoredSql("iscored", "norms b ON a.label = b.label AND a.vec_id <> b.vec_id")},
         |${annTopIdsSql("itop", "iscored")}, pscored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round($cosDot / (a.nrm * b.nrm), 6) AS cos_sim
         |  FROM (SELECT n.vec_id, n.embedding, n.nrm, p.qbucket
         |        FROM norms n JOIN qprobes p ON p.query_id = n.vec_id) a
         |  JOIN (SELECT n.vec_id, n.embedding, n.nrm, s.bucket
         |        FROM norms n JOIN assigned s ON s.vec_id = n.vec_id) b
         |    ON a.qbucket = b.bucket AND a.vec_id <> b.vec_id
         |), ${annTopIdsSql("ptop", "pscored")}, truth AS (
         |  SELECT count(DISTINCT query_id) AS n_queries, count(*) AS n_truth
         |  FROM btop
         |), $pqChainCtes, $sq8ChainCtes, pqtop AS (
         |  SELECT query_id, neighbor_id FROM pqranked WHERE rank <= $annK
         |), sq8top AS (
         |  SELECT query_id, neighbor_id FROM sq8ranked WHERE rank <= $annK
         |)
         |SELECT 'ivf' AS method, n_queries, n_truth,
         |       (SELECT CAST(count(*) AS BIGINT)
         |        FROM itop JOIN btop USING (query_id, neighbor_id)) AS n_hits,
         |       round(CAST((SELECT count(*) FROM itop JOIN btop USING (query_id, neighbor_id)) AS DOUBLE)
         |             / CAST(n_truth AS DOUBLE), 6) AS recall_at_k
         |FROM truth
         |UNION ALL
         |SELECT 'ivf_multiprobe', n_queries, n_truth,
         |       (SELECT CAST(count(*) AS BIGINT)
         |        FROM ptop JOIN btop USING (query_id, neighbor_id)),
         |       round(CAST((SELECT count(*) FROM ptop JOIN btop USING (query_id, neighbor_id)) AS DOUBLE)
         |             / CAST(n_truth AS DOUBLE), 6)
         |FROM truth
         |UNION ALL
         |SELECT 'pq_rerank', n_queries, n_truth,
         |       (SELECT CAST(count(*) AS BIGINT)
         |        FROM pqtop JOIN btop USING (query_id, neighbor_id)),
         |       round(CAST((SELECT count(*) FROM pqtop JOIN btop USING (query_id, neighbor_id)) AS DOUBLE)
         |             / CAST(n_truth AS DOUBLE), 6)
         |FROM truth
         |UNION ALL
         |SELECT 'sq8', n_queries, n_truth,
         |       (SELECT CAST(count(*) AS BIGINT)
         |        FROM sq8top JOIN btop USING (query_id, neighbor_id)),
         |       round(CAST((SELECT count(*) FROM sq8top JOIN btop USING (query_id, neighbor_id)) AS DOUBLE)
         |             / CAST(n_truth AS DOUBLE), 6)
         |FROM truth
         |ORDER BY method""".stripMargin,

    // Full-dim brute truth + one sliced-vector brute leg per prefix,
    // recall composed exactly as in ann_recall_report.
    "emb_matryoshka_eval" -> {
      val prefixCtes = matryoshkaDims.map { p =>
        s"""pemb$p AS (
           |  SELECT vec_id, embedding[1:$p] AS embedding FROM embeddings
           |), pnorms$p AS (
           |  SELECT vec_id, embedding, $normSql AS nrm FROM pemb$p
           |), pscored$p AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |         round($cosDot / (a.nrm * b.nrm), 6) AS cos_sim
           |  FROM (SELECT * FROM pnorms$p WHERE vec_id % $annQueryStride = 0) a
           |  JOIN pnorms$p b ON a.vec_id <> b.vec_id
           |), ${annTopIdsSql(s"ptop$p", s"pscored$p")}""".stripMargin
      }.mkString(",\n")
      val unions = matryoshkaDims.map { p =>
        s"""SELECT 'prefix$p' AS method, n_queries, n_truth,
           |       (SELECT CAST(count(*) AS BIGINT)
           |        FROM ptop$p JOIN btop USING (query_id, neighbor_id)) AS n_hits,
           |       round(CAST((SELECT count(*) FROM ptop$p
           |                   JOIN btop USING (query_id, neighbor_id)) AS DOUBLE)
           |             / CAST(n_truth AS DOUBLE), 6) AS recall_at_k
           |FROM truth""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH norms AS (
         |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
         |), $bruteTopCtes,
         |$prefixCtes,
         |truth AS (
         |  SELECT count(DISTINCT query_id) AS n_queries, count(*) AS n_truth
         |  FROM btop
         |)
         |$unions
         |ORDER BY method""".stripMargin
    },

    "ann_topk_filtered" ->
      s"""WITH norms AS (
         |  SELECT vec_id, label, embedding, $normSql AS nrm FROM embeddings
         |), ${annScoredSql("scored", "(SELECT * FROM norms WHERE label % 2 = 0) b\n    ON a.vec_id <> b.vec_id")},
         |$annTopkSql""".stripMargin,

    "ann_topk_ivf" ->
      s"""WITH norms AS (
         |  SELECT vec_id, label, embedding, $normSql AS nrm FROM embeddings
         |), ${annScoredSql("scored", "norms b ON a.label = b.label AND a.vec_id <> b.vec_id")},
         |$annTopkSql""".stripMargin,

    // Full replay of the deterministic PQ pipeline (Similarity.pqTopKReranked):
    // fixed-point quantization (2^20), pqIters unrolled Lloyd rounds with
    // exact BIGINT sums, integer ADC shortlist, exact-cosine re-rank.
    // The chain lives in [[pqChainCtes]], shared with ann_recall_report.
    "ann_topk_pq" ->
      s"""WITH $pqChainCtes
         |SELECT query_id, rank, neighbor_id, cos_sim FROM pqranked
         |WHERE rank <= $annK ORDER BY query_id, rank""".stripMargin,

    "corpus_contamination" ->
      s"""$tokCte,
         |${shingleSql(5)},
         |tp AS (SELECT s.doc_id, s.shingle FROM sh s
         |       JOIN documents d USING (doc_id) WHERE d.source <> 'src0'),
         |ep AS (SELECT s.doc_id AS eval_doc_id, s.shingle FROM sh s
         |       JOIN documents d USING (doc_id) WHERE d.source = 'src0')
         |SELECT tp.doc_id,
         |       count(DISTINCT shingle) AS n_shared_shingles,
         |       count(DISTINCT eval_doc_id) AS n_eval_docs_hit
         |FROM tp JOIN ep USING (shingle)
         |GROUP BY tp.doc_id ORDER BY tp.doc_id""".stripMargin,

    "contamination_semantic" ->
      s"""WITH norms AS (
         |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
         |), hits AS (
         |  SELECT a.vec_id, round($cosDot / (a.nrm * b.nrm), 6) AS cos_sim
         |  FROM norms a JOIN norms b
         |    ON a.vec_id % $semEvalStride <> 0 AND b.vec_id % $semEvalStride = 0
         |)
         |SELECT vec_id, count(*) AS n_eval_hits, max(cos_sim) AS max_cos
         |FROM hits WHERE cos_sim >= $cosineThreshold
         |GROUP BY 1 ORDER BY vec_id""".stripMargin,

    "corpus_mixing_weights" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |  FROM documents GROUP BY source
        |), w AS (
        |  SELECT *, pow(CAST(n_docs AS DOUBLE), 0.7) AS w_raw FROM s
        |), t AS (SELECT sum(w_raw) AS tot FROM w)
        |SELECT source, n_docs, n_chars_total,
        |       round(w_raw / tot, 6) AS mix_weight
        |FROM w, t ORDER BY source""".stripMargin,

    "text_tfidf_topterms" ->
      s"""$tokCte,
         |tk AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df
         |          FROM (SELECT DISTINCT doc_id, term FROM tk) GROUP BY term),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
         |scored AS (
         |  SELECT doc_id, term,
         |         round(CAST(tf AS DOUBLE) * ln(nd / CAST(df AS DOUBLE)), 6) AS score
         |  FROM tf JOIN dfreq USING (term), n
         |), ranked AS (
         |  SELECT doc_id, term, score,
         |         CAST(row_number() OVER (PARTITION BY doc_id
         |           ORDER BY score DESC, term) AS INTEGER) AS rank
         |  FROM scored
         |)
         |SELECT doc_id, rank, term, score FROM ranked
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "text_chi2_terms" ->
      s"""WITH stoks AS (
         |  SELECT doc_id, source,
         |         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |              ELSE string_split_regex(trim(text), '\\s+') END AS ws
         |  FROM documents
         |), pres AS (
         |  SELECT DISTINCT doc_id, source, term FROM (
         |    SELECT doc_id, source, unnest(ws) AS term FROM stoks)
         |), st AS (
         |  SELECT source, term, CAST(count(*) AS BIGINT) AS df_in_source
         |  FROM pres GROUP BY 1, 2
         |), tt AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df_total
         |  FROM pres GROUP BY 1
         |), srcn AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS row_n
         |  FROM documents GROUP BY 1
         |), nn AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_all FROM documents
         |), sc AS (
         |  SELECT st.source, st.term, st.df_in_source, tt.df_total,
         |         srcn.row_n, nn.n_all,
         |         st.df_in_source * nn.n_all - srcn.row_n * tt.df_total AS dlt
         |  FROM st JOIN tt USING (term) JOIN srcn USING (source) CROSS JOIN nn
         |  WHERE st.df_in_source >= $chi2MinDf
         |    AND tt.df_total < nn.n_all AND srcn.row_n < nn.n_all
         |), scored AS (
         |  SELECT source, term, df_in_source, df_total,
         |         round((CAST(n_all AS DOUBLE) * CAST(dlt AS DOUBLE)
         |                * CAST(dlt AS DOUBLE))
         |               / (CAST(row_n AS DOUBLE) * CAST(df_total AS DOUBLE)
         |                  * CAST(n_all - row_n AS DOUBLE)
         |                  * CAST(n_all - df_total AS DOUBLE)), 6) AS chi2
         |  FROM sc WHERE dlt > 0
         |), ranked AS (
         |  SELECT source, term, df_in_source, df_total, chi2,
         |         CAST(row_number() OVER (PARTITION BY source
         |           ORDER BY chi2 DESC, term) AS INTEGER) AS rank
         |  FROM scored
         |)
         |SELECT source, rank, term, df_in_source, df_total, chi2
         |FROM ranked WHERE rank <= $chi2TopK ORDER BY source, rank""".stripMargin,

    "text_zipf_bands" ->
      s"""$tokCte, freq AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(ws) AS term FROM toks) GROUP BY 1
         |), bands AS (
         |  SELECT CAST(length(CAST(freq AS VARCHAR)) AS BIGINT) AS digits,
         |         CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(sum(freq) AS BIGINT) AS total_occ,
         |         min(freq) AS min_freq, max(freq) AS max_freq
         |  FROM freq GROUP BY 1
         |), rnk AS (
         |  SELECT *,
         |         coalesce(sum(n_tokens) OVER (ORDER BY digits DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
         |           AS min_rank
         |  FROM bands
         |)
         |SELECT digits, n_tokens, total_occ, min_freq, max_freq,
         |       CAST(min_rank AS BIGINT) AS min_rank,
         |       CAST(min_rank + n_tokens - 1 AS BIGINT) AS max_rank
         |FROM rnk ORDER BY digits""".stripMargin,

    "text_burstiness" ->
      s"""$tokCte, occ AS (
         |  SELECT doc_id, unnest(ws) AS term FROM toks
         |), agg AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS cf,
         |         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM occ GROUP BY 1
         |)
         |SELECT term, cf, df, cf * 1000000 // df AS burst_ppm
         |FROM agg WHERE df >= $burstinessMinDf
         |ORDER BY burst_ppm DESC, term LIMIT $burstinessTopK""".stripMargin,

    // token-adjacency edges → the shared unrolled fixed-point PageRank
    "text_textrank_terms" ->
      s"""$tokCte,
         |bg AS (
         |  SELECT unnest(list_transform(range(1, len(ws)),
         |         i -> [ws[i], ws[i+1]])) AS pr
         |  FROM toks WHERE len(ws) >= 2
         |), prs AS (
         |  SELECT pr[1] AS a, pr[2] AS b FROM bg WHERE pr[1] <> pr[2]
         |), sym AS (
         |  SELECT a, b FROM prs UNION ALL SELECT b, a FROM prs
         |), edges AS (
         |  SELECT a AS src, b AS dst, CAST(count(*) AS BIGINT) AS w
         |  FROM sym GROUP BY 1, 2 HAVING count(*) >= $textrankMinW
         |), ${OracleFrags.prStartCtes(1000000000L)},
         |${OracleFrags.prSteps(textrankIters, 1000000000L)}
         |SELECT node AS term, r AS rank_fp,
         |       round(CAST(r AS DOUBLE) / 1000000000.0, 6) AS rank
         |FROM pr$textrankIters
         |ORDER BY rank_fp DESC, term LIMIT $textrankTopK""".stripMargin,

    "mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         n_chars % 64 + 16 AS width,
        |         doc_id % 48 + 16 AS height,
        |         octet_length(encode(text)) AS body
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(width AS INTEGER) AS width,
        |       CAST(height AS INTEGER) AS height,
        |       CAST(greatest(width // 2, 1) AS INTEGER) AS new_width,
        |       CAST(greatest(height // 2, 1) AS INTEGER) AS new_height,
        |       CAST(4 + least(greatest(body // 4, 1), body) AS BIGINT) AS resized_bytes
        |FROM m ORDER BY doc_id""".stripMargin,

    "sketch_kmv_distinct" ->
      s"""WITH hv AS (
         |  SELECT DISTINCT event_type,
         |         ${h60("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events
         |), ranked AS (
         |  SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM hv
         |), kth AS (
         |  SELECT event_type, h AS kth_min FROM ranked WHERE rn = 64
         |), ex AS (
         |  SELECT event_type, count(*) AS exact_distinct FROM ranked GROUP BY event_type
         |)
         |SELECT ex.event_type, ex.exact_distinct,
         |       coalesce(kth.kth_min, 0) AS kth_min,
         |       CASE WHEN kth.kth_min IS NULL THEN CAST(exact_distinct AS DOUBLE)
         |            ELSE round(${63.0 * Sketches.TwoPow60} / CAST(kth.kth_min AS DOUBLE), 6)
         |       END AS kmv_estimate
         |FROM ex LEFT JOIN kth USING (event_type)
         |ORDER BY ex.event_type""".stripMargin,

    "corpus_pipeline" -> {
      val pctCase = (0 until 10).map(i =>
        s"WHEN source = 'src$i' THEN ${if (i % 2 == 0) 50 else 20}")
        .mkString("CASE ", " ", " ELSE 10 END")
      s"""$tokCte,
         |feats AS (
         |  SELECT doc_id, source, text, CAST(len(ws) AS INTEGER) AS n_toks,
         |         $stopRatioSql AS sr,
         |         $symbolRatioSql AS nar
         |  FROM toks JOIN documents USING (doc_id)
         |), qual AS (
         |  SELECT doc_id, source, text, n_toks,
         |         ${qualitySql("n_toks", "sr", "nar")} >= 0.5 AS q
         |  FROM feats
         |), ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY q, md5(trim(regexp_replace(regexp_replace(
         |      lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')))
         |    ORDER BY doc_id) AS rk
         |  FROM qual
         |), flags AS (
         |  SELECT source, n_toks, q,
         |         (q AND rk = 1) AS uniq,
         |         (q AND rk = 1 AND
         |          ${h60("'mix1|' || CAST(doc_id AS VARCHAR)")} % 100 < ($pctCase)) AS samp
         |  FROM ranked
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  CAST(sum(CASE WHEN samp THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  CAST(coalesce(sum(CASE WHEN samp THEN n_toks END), 0) AS BIGINT) AS sampled_tokens
         |FROM flags GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "sketch_kmv_setops" ->
      s"""WITH ha AS (
         |  SELECT DISTINCT ${h60("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events WHERE event_type = 'click'
         |), hb AS (
         |  SELECT DISTINCT ${h60("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events WHERE event_type = 'purchase'
         |), ska AS (
         |  -- coalesce: list() over zero rows is NULL, but the Spark
         |  -- aggregator's zero is the EMPTY sketch (estimate 0.0)
         |  SELECT coalesce(list(h ORDER BY h), CAST([] AS BIGINT[])) AS sk
         |  FROM (SELECT h FROM ha ORDER BY h LIMIT 64) t
         |), skb AS (
         |  SELECT coalesce(list(h ORDER BY h), CAST([] AS BIGINT[])) AS sk
         |  FROM (SELECT h FROM hb ORDER BY h LIMIT 64) t
         |), mm AS (
         |  SELECT ska.sk AS sa, skb.sk AS sb,
         |         (list_sort(list_distinct(list_concat(ska.sk, skb.sk))))[1:64] AS mk
         |  FROM ska, skb
         |), est AS (
         |  SELECT sa, sb, mk,
         |    CASE WHEN len(sa) < 64 THEN CAST(len(sa) AS DOUBLE)
         |         ELSE round(${63.0 * Sketches.TwoPow60} / CAST(sa[64] AS DOUBLE), 6) END AS est_clicks,
         |    CASE WHEN len(sb) < 64 THEN CAST(len(sb) AS DOUBLE)
         |         ELSE round(${63.0 * Sketches.TwoPow60} / CAST(sb[64] AS DOUBLE), 6) END AS est_purchases,
         |    CASE WHEN len(mk) < 64 THEN CAST(len(mk) AS DOUBLE)
         |         ELSE round(${63.0 * Sketches.TwoPow60} / CAST(mk[64] AS DOUBLE), 6) END AS est_union
         |  FROM mm
         |), ex AS (
         |  SELECT count(*) AS exact_union,
         |         CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_intersect
         |  FROM (SELECT user_id,
         |               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
         |               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
         |        FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1) u
         |)
         |SELECT est_clicks, est_purchases, est_union,
         |  CASE WHEN len(mk) = 0 THEN 0.0
         |       ELSE round(CAST(len(list_filter(mk, x -> list_contains(sa, x) AND list_contains(sb, x))) AS DOUBLE)
         |                  / CAST(len(mk) AS DOUBLE) * est_union, 6) END AS est_intersect,
         |  ex.exact_union, ex.exact_intersect
         |FROM est, ex""".stripMargin,

    "sketch_hll_distinct" -> {
      val (regE, rhoE) = Sketches.hllRegRhoSql("h")
      s"""WITH hv AS (
         |  SELECT event_type, ${h60("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events
         |), regs AS (
         |  SELECT event_type, $regE AS reg, max($rhoE) AS m_rho
         |  FROM hv GROUP BY 1, 2
         |), agg AS (
         |  SELECT event_type,
         |         CAST(sum(${Sketches.hllDenomTermSql("m_rho")}) AS BIGINT) AS denom_present,
         |         count(*) AS n_present
         |  FROM regs GROUP BY 1
         |), wz AS (
         |  SELECT event_type,
         |         CAST(${Sketches.HllM} - n_present AS INTEGER) AS zero_regs,
         |         denom_present + (${Sketches.HllM} - n_present) * ${Sketches.HllEmptyTerm} AS denom
         |  FROM agg
         |), ex AS (
         |  SELECT event_type, count(DISTINCT h) AS exact_distinct
         |  FROM hv GROUP BY 1
         |)
         |SELECT ex.event_type, ex.exact_distinct, wz.zero_regs,
         |       ${Sketches.hllEstimateSql("wz.zero_regs", "wz.denom")} AS hll_estimate
         |FROM ex JOIN wz USING (event_type)
         |ORDER BY ex.event_type""".stripMargin
    },

    "mm_byte_histogram" ->
      s"""WITH $mmMediaFormatCte, nib AS (
        |  SELECT format,
        |         substring(hex(payload), CAST(9 + i * 2 AS INTEGER), 1) AS nibble
        |  FROM media, range(0, 64) t(i)
        |  WHERE i < least(octet_length(payload) - 4, 64)
        |)
        |SELECT format, nibble, count(*) AS n
        |FROM nib GROUP BY format, nibble ORDER BY format, nibble""".stripMargin,

    "mm_decode_stats" ->
      s"""WITH $mmMediaFormatCte
        |SELECT doc_id, format,
        |       CAST(('0x' || substring(hex(payload), 1, 4))::BIGINT AS INTEGER) AS dec_width,
        |       CAST(('0x' || substring(hex(payload), 5, 4))::BIGINT AS INTEGER) AS dec_height,
        |       CAST(octet_length(payload) AS BIGINT) AS byte_len,
        |       ('0x' || substring(hex(payload), 9, 2))::BIGINT AS first_body_byte,
        |       CAST(least((octet_length(payload) - 4) // 64, 8) AS INTEGER) AS n_frames
        |FROM media ORDER BY doc_id""".stripMargin,

    "mm_frame_sample" ->
      s"""WITH $mmMediaFormatCte,
         |fr AS (
         |  SELECT doc_id, format,
         |         CAST(i AS INTEGER) AS frame_idx,
         |         CAST(4 + i * 64 AS INTEGER) AS fpos,
         |         payload
         |  FROM media, range(0, 8) t(i)
         |  WHERE i < least((octet_length(payload) - 4) // 64, 8)
         |)
         |SELECT doc_id, format, frame_idx, fpos,
         |       ${h60("substring(hex(payload), fpos * 2 + 1, 32)")} AS frame_hash
         |FROM fr ORDER BY doc_id, frame_idx""".stripMargin,

    "mm_near_dup" ->
      s"""WITH $mmMediaFormatCte, byt AS (
         |  -- byte trigram (b1*65536+b2*256+b3) at each of the first 62 body positions
         |  SELECT doc_id, format,
         |         ('0x' || substring(hex(payload), CAST(9 + i * 2 AS INTEGER), 6))::BIGINT AS dim
         |  FROM media, range(0, 62) t(i)
         |  WHERE i < least(octet_length(payload) - 6, 62)
         |), present AS (
         |  SELECT doc_id, format, dim, CAST(count(*) AS BIGINT) AS cnt
         |  FROM byt GROUP BY 1, 2, 3
         |), am AS (
         |  SELECT doc_id, format, CAST(sum(cnt * cnt) AS BIGINT) AS nsq
         |  FROM present GROUP BY 1, 2
         |), pd AS (
         |  -- UNPRUNED all-pairs ground truth in sparse inner-product form:
         |  -- every dim of every doc is posted (no prefix filter), so every
         |  -- pair with dot > 0 is scored, and a pair with no shared dim has
         |  -- dot = 0 < t. Parity against this proves the Spark side's
         |  -- prefix-filter candidate generator is complete, not just that
         |  -- scoring agrees on surviving candidates.
         |  SELECT a.format, a.doc_id AS d1, b.doc_id AS d2,
         |         CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
         |  FROM present a JOIN present b
         |    ON a.format = b.format AND a.dim = b.dim AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3
         |), pairs AS (
         |  SELECT pd.format, pd.d1, pd.d2, pd.dot, x.nsq AS na, y.nsq AS nb
         |  FROM pd
         |  JOIN am x ON pd.format = x.format AND pd.d1 = x.doc_id
         |  JOIN am y ON pd.format = y.format AND pd.d2 = y.doc_id
         |)
         |SELECT format, d1, d2, CAST(dot AS BIGINT) AS dot,
         |       round(CAST(dot AS DOUBLE)
         |             / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cos_sig
         |FROM pairs
         |WHERE round(CAST(dot AS DOUBLE)
         |            / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) >= $mmNearDupThreshold
         |ORDER BY format, d1, d2""".stripMargin,

    "sketch_bloom" -> {
      val probesValues = sketchProbes.map(p => s"('$p')").mkString(", ")
      s"""WITH t0 AS (
         |  SELECT source,
         |         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |              ELSE string_split_regex(trim(text), '\\s+') END AS ws
         |  FROM documents
         |), toks AS (
         |  SELECT DISTINCT source, unnest(ws) AS token FROM t0
         |), pos AS (
         |  SELECT DISTINCT source,
         |         ${h60("CAST(s.i AS VARCHAR) || '|' || token")} % $bloomM AS pos
         |  FROM toks, range($bloomD) s(i)
         |), bits AS (
         |  SELECT source, count(*) AS n_bits_set FROM pos GROUP BY 1
         |), exact AS (
         |  SELECT source, count(*) AS n_distinct_tokens FROM toks GROUP BY 1
         |), probes(probe) AS (VALUES $probesValues),
         |pp AS (
         |  SELECT DISTINCT probe,
         |         ${h60("CAST(s.i AS VARCHAR) || '|' || probe")} % $bloomM AS pos
         |  FROM probes, range($bloomD) s(i)
         |), ppn AS (
         |  SELECT probe, count(*) AS n_pp FROM pp GROUP BY 1
         |), hit AS (
         |  SELECT p.source, pp.probe, count(*) AS n_hit
         |  FROM pos p JOIN pp ON p.pos = pp.pos GROUP BY 1, 2
         |), maybe AS (
         |  SELECT source, count(*) AS n_probes_maybe
         |  FROM hit JOIN ppn USING (probe) WHERE n_hit = n_pp GROUP BY 1
         |), act AS (
         |  SELECT source, count(*) AS n_probes_actual
         |  FROM toks JOIN probes ON token = probe GROUP BY 1
         |)
         |SELECT exact.source, n_distinct_tokens, n_bits_set,
         |       coalesce(n_probes_maybe, 0) AS n_probes_maybe,
         |       coalesce(n_probes_actual, 0) AS n_probes_actual
         |FROM exact JOIN bits USING (source)
         |LEFT JOIN maybe USING (source) LEFT JOIN act USING (source)
         |ORDER BY source""".stripMargin
    },

    "sketch_cms" -> {
      val probesValues = sketchProbes.map(p => s"('$p')").mkString(", ")
      s"""WITH t0 AS (
         |  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |              ELSE string_split_regex(trim(text), '\\s+') END AS ws
         |  FROM documents
         |), occ AS (
         |  SELECT unnest(ws) AS token FROM t0
         |), cells AS (
         |  SELECT s.i AS i,
         |         ${h60("CAST(s.i AS VARCHAR) || '|' || token")} % $cmsW AS pos,
         |         count(*) AS c
         |  FROM occ, range($cmsD) s(i) GROUP BY 1, 2
         |), probes(probe) AS (VALUES $probesValues),
         |pp AS (
         |  SELECT probe, s.i AS i,
         |         ${h60("CAST(s.i AS VARCHAR) || '|' || probe")} % $cmsW AS pos
         |  FROM probes, range($cmsD) s(i)
         |), est AS (
         |  SELECT probe, min(coalesce(c, 0)) AS cms_estimate
         |  FROM pp LEFT JOIN cells USING (i, pos) GROUP BY 1
         |), ex AS (
         |  SELECT probe, count(*) AS exact_count
         |  FROM occ JOIN probes ON token = probe GROUP BY 1
         |)
         |SELECT est.probe,
         |       CAST(cms_estimate AS BIGINT) AS cms_estimate,
         |       CAST(coalesce(exact_count, 0) AS BIGINT) AS exact_count,
         |       CAST(cms_estimate - coalesce(exact_count, 0) AS BIGINT) AS overestimate
         |FROM est LEFT JOIN ex USING (probe)
         |ORDER BY probe""".stripMargin
    },

    "dedup_segments" ->
      s"""$tokCte,
         |segs AS (
         |  SELECT doc_id, pos,
         |         array_to_string(ws[(pos*$segDedupLen+1):least((pos+1)*$segDedupLen, len(ws))], ' ') AS seg
         |  FROM (SELECT doc_id, ws,
         |          unnest(range((len(ws)+${segDedupLen - 1})//$segDedupLen)) AS pos
         |        FROM toks)
         |), cnt AS (SELECT seg, count(*) AS n_occ FROM segs GROUP BY 1),
         |marked AS (
         |  SELECT doc_id, pos, seg, n_occ >= $segDedupThreshold AS dropped
         |  FROM segs JOIN cnt USING (seg)
         |), per AS (
         |  SELECT doc_id, count(*) AS nseg,
         |         CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS ndrop,
         |         coalesce(string_agg(seg, ' ' ORDER BY pos)
         |                    FILTER (WHERE NOT dropped), '') AS cleaned
         |  FROM marked GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       coalesce(nseg, 0) AS n_segments,
         |       coalesce(ndrop, 0) AS n_dropped,
         |       ${h60("coalesce(cleaned, '')")} AS clean_hash
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "text_bigram_rarity" ->
      s"""$tokCte,
         |bg AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, len(ws)),
         |                i -> ws[i] || ' ' || ws[i+1])) AS bg
         |  FROM toks WHERE len(ws) >= 2
         |), cnt AS (SELECT bg, count(*) AS n FROM bg GROUP BY 1),
         |per AS (
         |  SELECT doc_id, count(*) AS nb,
         |         CAST(sum(CASE WHEN n <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS nr
         |  FROM bg JOIN cnt USING (bg) GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       coalesce(nb, 0) AS n_bigrams,
         |       coalesce(nr, 0) AS n_rare,
         |       CASE WHEN coalesce(nb, 0) = 0 THEN 0.0
         |            ELSE round(CAST(nr AS DOUBLE) / CAST(nb AS DOUBLE), 6)
         |       END AS rare_ratio
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "text_lm_score" ->
      s"""$lmCte
         |SELECT doc_id, n_bigrams, lm_sum,
         |       CASE WHEN n_bigrams = 0 THEN 0.0
         |            ELSE round(CAST(lm_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6)
         |       END AS lm_score
         |FROM lmdoc
         |ORDER BY doc_id""".stripMargin,

    "corpus_ppx_buckets" ->
      s"""$lmCte,
         |scored AS (
         |  SELECT doc_id, source, n_bigrams,
         |         CASE WHEN n_bigrams = 0 THEN 0
         |              ELSE lm_sum // n_bigrams END AS score_fp
         |  FROM lmdoc
         |),
         |ranked AS (
         |  SELECT source, n_bigrams, score_fp,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY score_fp DESC, doc_id) AS rn,
         |         count(*) OVER (PARTITION BY source) AS n_src
         |  FROM scored
         |)
         |SELECT source,
         |       CASE ((rn - 1) * 3) // n_src WHEN 0 THEN 'head'
         |            WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket,
         |       count(*) AS n_docs,
         |       CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams,
         |       CAST(sum(score_fp) // count(*) AS BIGINT) AS mean_score_fp
         |FROM ranked GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin,

    "corpus_card" ->
      s"""$tokCte,
         |feats AS (
         |  SELECT d.doc_id, d.source,
         |         CAST(len(ws) AS BIGINT) AS n_toks,
         |         $qfpSql AS qfp,
         |         md5(trim(regexp_replace(regexp_replace(
         |           lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS nd,
         |         $langCounts,
         |         len(regexp_extract_all(text, '${T.cjkPattern}')) AS c_zh
         |  FROM toks JOIN documents d USING (doc_id)
         |),
         |pred AS (
         |  SELECT source, n_toks, qfp, nd,
         |         $langPredSql AS lang_pred
         |  FROM feats
         |)
         |SELECT source,
         |       count(*) AS n_docs,
         |       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |       CAST(count(DISTINCT nd) AS BIGINT) AS n_unique_norm,
         |       CAST(sum(qfp) // count(*) AS BIGINT) AS mean_quality_fp,
         |       CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
         |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_topics" ->
      s"""$tokCte,
         |lab AS (
         |  SELECT d.doc_id, e.label, d.text, t.ws
         |  FROM documents d
         |  JOIN embeddings e ON e.vec_id = d.doc_id
         |  JOIN toks t ON t.doc_id = d.doc_id
         |), stats AS (
         |  SELECT label, count(*) AS n_docs,
         |         CAST(sum(len(ws)) AS BIGINT) AS total_tokens,
         |         CAST(sum($qfpSql) // count(*) AS BIGINT) AS mean_quality_fp
         |  FROM lab GROUP BY 1
         |), tf AS (
         |  SELECT label, token, count(*) AS tf
         |  FROM (SELECT label, unnest(ws) AS token FROM lab) o
         |  WHERE length(token) >= 4 GROUP BY 1, 2
         |), wdf AS (
         |  SELECT label, token, tf,
         |         count(*) OVER (PARTITION BY token) AS df_clusters
         |  FROM tf
         |), kk AS (
         |  SELECT count(DISTINCT label) AS k_clusters FROM embeddings
         |), top AS (
         |  SELECT label, token,
         |         row_number() OVER (PARTITION BY label
         |           ORDER BY tf * (k_clusters - df_clusters + 1) DESC, tf DESC, token) AS rk
         |  FROM wdf, kk
         |), tt AS (
         |  SELECT label, string_agg(token, ',' ORDER BY rk) AS top_terms
         |  FROM top WHERE rk <= 3 GROUP BY 1
         |)
         |SELECT s.label, s.n_docs, s.total_tokens, s.mean_quality_fp, tt.top_terms
         |FROM stats s JOIN tt USING (label)
         |ORDER BY s.label""".stripMargin,

    "corpus_importance" ->
      s"""$importanceCte
         |SELECT doc_id, source, n_tokens, imp_sum, imp_mean
         |FROM imp ORDER BY doc_id""".stripMargin,

    "corpus_select_importance" ->
      s"""$importanceCte,
         |ranked AS (
         |  SELECT source, doc_id, imp_mean,
         |         CAST(row_number() OVER (PARTITION BY source
         |           ORDER BY imp_mean DESC, doc_id) AS INTEGER) AS sel_rank
         |  FROM imp
         |)
         |SELECT source, sel_rank, doc_id, imp_mean FROM ranked
         |WHERE sel_rank <= 5 ORDER BY source, sel_rank""".stripMargin,

    "corpus_sample_pps" ->
      s"""WITH pri AS (
         |  SELECT source, doc_id, n_chars,
         |         (CAST(${h60("'pps|' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |          / CAST(1152921504606846976 AS DOUBLE))
         |         / CAST(n_chars AS DOUBLE) AS priority
         |  FROM documents WHERE n_chars > 0
         |), r AS (
         |  SELECT source, doc_id, n_chars, row_number() OVER (
         |    PARTITION BY source ORDER BY priority, doc_id) AS rn
         |  FROM pri
         |)
         |SELECT source, doc_id, n_chars FROM r WHERE rn <= 10
         |ORDER BY source, doc_id""".stripMargin,

    "search_postings" ->
      s"""$tokCte,
         |occ AS (SELECT doc_id, unnest(ws) AS token FROM toks),
         |tf AS (SELECT token, doc_id, count(*) AS tf FROM occ GROUP BY 1, 2),
         |rk AS (
         |  SELECT token, doc_id, tf, row_number() OVER (
         |    PARTITION BY token ORDER BY tf DESC, doc_id) AS rn
         |  FROM tf
         |)
         |SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
         |       max(CASE WHEN rn = 1 THEN doc_id END) AS top_doc_id,
         |       max(CASE WHEN rn = 1 THEN tf END) AS top_tf
         |FROM rk GROUP BY 1 HAVING count(*) >= $postingsMinDf
         |ORDER BY token""".stripMargin,

    "search_bm25" ->
      s"""$bm25ScoredCte
         |SELECT doc_id, n_matched_terms, bm25 FROM bm25_scored
         |ORDER BY bm25 DESC, doc_id LIMIT $bm25K""".stripMargin,

    "search_hybrid_rrf" ->
      s"""$bm25ScoredCte,
         |tr AS (
         |  SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS text_rank
         |  FROM (SELECT * FROM bm25_scored ORDER BY bm25 DESC, doc_id LIMIT $bm25K)
         |),
         |qv AS (SELECT embedding AS qvec, $normSql AS qnrm
         |       FROM embeddings WHERE vec_id = 0),
         |vscore AS (
         |  SELECT e.vec_id AS doc_id,
         |         round(list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len(e.embedding) + 1),
         |             i -> CAST(q.qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
         |             (x, y) -> x + y)
         |           / (q.qnrm * sqrt(list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len(e.embedding) + 1),
         |             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
         |             (x, y) -> x + y))), 6) AS cos_sim
         |  FROM embeddings e, qv q WHERE e.vec_id <> 0
         |),
         |vr AS (
         |  SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INTEGER) AS vec_rank
         |  FROM (SELECT * FROM vscore ORDER BY cos_sim DESC, doc_id LIMIT $bm25K)
         |),
         |fused AS (
         |  SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id,
         |         CAST(coalesce(text_rank, 0) AS INTEGER) AS text_rank,
         |         CAST(coalesce(vec_rank, 0) AS INTEGER) AS vec_rank,
         |         round(coalesce(CAST(1 AS DOUBLE) / ($rrfOffset + text_rank), 0.0)
         |             + coalesce(CAST(1 AS DOUBLE) / ($rrfOffset + vec_rank), 0.0), 6) AS rrf
         |  FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id
         |)
         |SELECT doc_id, text_rank, vec_rank, rrf FROM fused
         |ORDER BY rrf DESC, doc_id LIMIT $rrfK""".stripMargin,

    "stream_ingest_dedup" ->
      s"""WITH d AS (
        |  SELECT doc_id, text, source, n_chars, doc_id % 4 AS wave
        |  FROM documents
        |), m AS (
        |  SELECT d.*, MIN(wave) OVER (PARTITION BY text) AS first_wave FROM d
        |)
        |${docWaveCensusSql("m WHERE wave = first_wave")}""".stripMargin,

    // One global (uncapped) pair set + four chained NOT-EXISTS CTEs =
    // the sequential near-dup admission the streaming loop performs.
    // Docs with fewer than k tokens have no shingles, appear in no
    // pair, and always admit — identical on both engines.
    "stream_neardup_ingest" -> nearDupIngestOracle,
    // the compaction twin replays the SAME sequential admission —
    // compaction is layout, never semantics, and this row makes the
    // external oracle enforce that every round
    "stream_neardup_compact" -> nearDupIngestOracle,

    // Global rounded-cosine pair set (store-independent, exactly the
    // kernel's sequential-fold arithmetic) + the same four chained
    // NOT-EXISTS admission CTEs as the near-dup twin.
    "stream_semdedup_ingest" -> semDedupIngestOracle,
    "stream_semdedup_compact" -> semDedupIngestOracle,

    // The twin recomputes the clean-row stats straight from `documents`
    // (the round trip must be lossless); corrupt counts are the planted
    // constants — 2 malformed CSV lines, 3 malformed JSON lines, with
    // the whitespace-only lines in the same rotten shard contributing 0.
    "corpus_ingest" ->
      """WITH j AS (
        |  SELECT count(*) AS n_rows,
        |         count(DISTINCT doc_id) AS n_docs,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
        |         CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
        |         count(DISTINCT source) AS n_sources
        |  FROM documents
        |)
        |SELECT 'csv' AS format, n_rows, n_docs, sum_text_len, sum_doc_id,
        |       n_sources, CAST(2 AS BIGINT) AS n_corrupt FROM j
        |UNION ALL
        |SELECT 'jsonl', n_rows, n_docs, sum_text_len, sum_doc_id,
        |       n_sources, CAST(3 AS BIGINT) FROM j
        |ORDER BY format""".stripMargin,

    "corpus_novelty" ->
      s"""$shingleCte,
         |first AS (
         |  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1
         |), perdoc AS (
         |  SELECT s.doc_id, count(*) AS n_sh,
         |         CAST(sum(CASE WHEN f.first_doc = s.doc_id
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |  FROM sh s JOIN first f USING (shingle)
         |  GROUP BY 1
         |)
         |SELECT d.source, count(*) AS n_docs,
         |       CAST(coalesce(sum(p.n_sh), 0) AS BIGINT) AS n_shingles,
         |       CAST(coalesce(sum(p.n_novel), 0) AS BIGINT) AS n_novel,
         |       CASE WHEN coalesce(sum(p.n_sh), 0) = 0 THEN 0.0
         |            ELSE round(CAST(sum(p.n_novel) AS DOUBLE) /
         |                       CAST(sum(p.n_sh) AS DOUBLE), 6) END
         |         AS novelty_ratio
         |FROM documents d LEFT JOIN perdoc p USING (doc_id)
         |GROUP BY 1 ORDER BY source""".stripMargin,

    "vocab_coverage_curve" ->
      s"""$tokCte,
         |occ AS (SELECT unnest(ws) AS w FROM toks),
         |cnt AS (SELECT w, count(*) AS n FROM occ GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
         |               count(*) AS n_types FROM cnt),
         |r AS (
         |  SELECT n, row_number() OVER (ORDER BY n DESC, w) AS rk FROM cnt
         |), c AS (
         |  SELECT rk, CAST(sum(n) OVER (ORDER BY rk
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM r
         |)
         |SELECT CAST(v.cutoff AS BIGINT) AS cutoff, tot.n_types,
         |       round(CAST(c.cum AS DOUBLE) / CAST(tot.total AS DOUBLE), 6)
         |         AS coverage
         |FROM (VALUES (100), (1000), (5000)) v(cutoff)
         |CROSS JOIN tot
         |JOIN c ON c.rk = least(v.cutoff, tot.n_types)
         |ORDER BY cutoff""".stripMargin,

    "emb_principal_dir" -> {
      // the 10 power-iteration steps unrolled: matvec → max-abs rescale,
      // every op a truncating BIGINT division mirroring the Scala loop.
      // Every chain CTE is MATERIALIZED: DuckDB inlines CTEs by default,
      // and each u_k being referenced twice (d_k and v_k) would re-
      // evaluate the whole upstream chain per reference — 2¹⁰ copies of
      // the Gram scan (measured: the un-hinted oracle never finished).
      val steps = (1 to 10).map { k =>
        s"""u$k AS MATERIALIZED (
           |  SELECT m.i AS idx, CAST(sum(m.mv * v${k - 1}.v) AS BIGINT) AS u
           |  FROM m JOIN v${k - 1} ON v${k - 1}.idx = m.j GROUP BY 1
           |), d$k AS MATERIALIZED (
           |  SELECT CAST(max(abs(u)) AS BIGINT) // 1048576 + 1 AS d FROM u$k
           |), v$k AS MATERIALIZED (
           |  SELECT idx, u // d$k.d AS v FROM u$k, d$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH q0 AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS q
         |  FROM embeddings
         |), e1 AS (SELECT unnest(range(len(q))) AS i, q FROM q0),
         |e2 AS (
         |  SELECT i, q[i + 1] AS qi, unnest(range(len(q))) AS j, q FROM e1
         |), gram AS MATERIALIZED (
         |  SELECT i, j, CAST(sum(qi * q[j + 1]) AS BIGINT) AS sxy
         |  FROM e2 GROUP BY 1, 2
         |), md AS MATERIALIZED (
         |  SELECT greatest(1, CAST(max(abs(sxy)) AS BIGINT) // 1073741824 + 1)
         |    AS mdiv FROM gram
         |), m AS MATERIALIZED (
         |  SELECT i, j, sxy // md.mdiv AS mv FROM gram, md),
         |v0 AS MATERIALIZED (
         |  SELECT i AS idx, CAST(1048576 AS BIGINT) AS v
         |  FROM (SELECT DISTINCT i FROM gram)
         |),
         |$steps
         |SELECT idx AS dim, v AS loading_fp,
         |       round(CAST(v AS DOUBLE) / 1048576.0, 6) AS loading
         |FROM v10 ORDER BY dim""".stripMargin
    },

    "search_similar_doc" ->
      s"""$shingleCte,
         |shc AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
         |    FROM sh)
         |  WHERE df <= $maxShingleDf
         |), qp AS (
         |  SELECT doc_id AS query_id, shingle FROM shc
         |  WHERE doc_id % $similarQueryStride = 0
         |), cand AS (
         |  SELECT qp.query_id, s.doc_id, count(*) AS n_common
         |  FROM shc s JOIN qp USING (shingle)
         |  WHERE s.doc_id % $similarQueryStride <> 0
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT query_id, doc_id, n_common,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY n_common DESC, doc_id) AS rank
         |  FROM cand
         |)
         |SELECT query_id, rank, doc_id, n_common FROM r
         |WHERE rank <= $similarTopK
         |ORDER BY query_id, rank""".stripMargin,

    "quality_kappa" ->
      s"""$tokCte,
         |$clfPerDocCte, $sourceMedianCte, sig AS (
         |  SELECT coalesce(p.score_fp, 0) > 0 AS s1,
         |         d.n_chars >= m.med AS s2
         |  FROM documents d
         |  LEFT JOIN clfper p USING (doc_id)
         |  JOIN med m USING (source)
         |), c AS (
         |  SELECT
         |    CAST(sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |    CAST(sum(CASE WHEN s1 AND NOT s2 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |    CAST(sum(CASE WHEN NOT s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |    CAST(sum(CASE WHEN NOT s1 AND NOT s2 THEN 1 ELSE 0 END) AS BIGINT) AS n00
         |  FROM sig
         |), stats AS (
         |  -- po/pe computed ONCE; the kappa column reuses the identical
         |  -- doubles (same ops, same operands — re-stating the formulas
         |  -- three times is how a future edit drifts them apart)
         |  SELECT n11, n10, n01, n00,
         |         CAST(n11 + n00 AS DOUBLE) /
         |           CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS po_raw,
         |         (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
         |          + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
         |           / (CAST(n11 + n10 + n01 + n00 AS DOUBLE)
         |              * CAST(n11 + n10 + n01 + n00 AS DOUBLE)) AS pe_raw
         |  FROM c
         |)
         |SELECT n11, n10, n01, n00,
         |       round(po_raw, 6) AS po,
         |       round(pe_raw, 6) AS pe,
         |       round((po_raw - pe_raw) / (CAST(1 AS DOUBLE) - pe_raw), 6)
         |         AS kappa
         |FROM stats""".stripMargin,

    "quality_calibration" ->
      s"""$tokCte,
         |$clfPerDocCte, $sourceMedianCte, scored AS (
         |  SELECT d.doc_id, d.source,
         |         coalesce(p.score_fp, 0) AS score_fp,
         |         CASE WHEN d.n_chars >= m.med THEN 1 ELSE 0 END AS keep
         |  FROM documents d
         |  LEFT JOIN clfper p USING (doc_id)
         |  JOIN med m USING (source)
         |), dec AS (
         |  SELECT CAST(ntile(10) OVER (PARTITION BY source
         |           ORDER BY score_fp, doc_id) AS BIGINT) AS decile,
         |         score_fp, keep
         |  FROM scored
         |)
         |SELECT decile,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(keep) AS BIGINT) AS n_keep,
         |       CAST(sum(keep) AS BIGINT) * 10000
         |         // CAST(count(*) AS BIGINT) AS keep_bps,
         |       CAST(sum(score_fp) AS BIGINT) AS sum_score_fp
         |FROM dec GROUP BY decile ORDER BY decile""".stripMargin,

    "corpus_epochs" ->
      s"""WITH bysrc AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(n_chars) AS BIGINT) AS avail_chars
         |  FROM documents GROUP BY source
         |), tot AS (
         |  SELECT CAST(sum(avail_chars) AS BIGINT) AS total_chars,
         |         CAST(count(*) AS BIGINT) AS n_sources
         |  FROM bysrc
         |), plan AS (
         |  SELECT b.source, b.n_docs, b.avail_chars,
         |         CAST(CAST(t.total_chars AS HUGEINT) * $epochsBudgetX // 2
         |              // t.n_sources AS BIGINT)
         |         + CAST(CAST(t.total_chars AS HUGEINT) * $epochsBudgetX // 2
         |                * b.avail_chars // t.total_chars AS BIGINT)
         |           AS target_chars
         |  FROM bysrc b CROSS JOIN tot t
         |)
         |SELECT source, n_docs, avail_chars, target_chars,
         |       (target_chars + avail_chars - 1) // avail_chars AS n_epochs,
         |       CAST(CAST(target_chars AS HUGEINT) * 10000
         |            // avail_chars AS BIGINT) AS repeat_bps
         |FROM plan ORDER BY source""".stripMargin,

    "corpus_orc_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    "corpus_quarantine" ->
      s"""SELECT * FROM (VALUES
         |${badJsonLines.map(l => s"  ('$l')").mkString(",\n")}) t(raw_line)
         |ORDER BY raw_line""".stripMargin,

    "corpus_shards" ->
      s"""SELECT ${h60("'shard|' || CAST(doc_id AS VARCHAR)")} % $nShards AS shard,
         |       count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       min(doc_id) AS min_doc,
         |       max(doc_id) AS max_doc,
         |       CAST(sum(${h60("text")} % 1073741824) AS BIGINT) AS content_digest
         |FROM documents
         |GROUP BY 1 ORDER BY shard""".stripMargin,

    "layout_compaction" ->
      s"""WITH m AS (
         |  SELECT ${h60("'shard|' || CAST(doc_id AS VARCHAR)")} % $nShards AS shard,
         |         count(*) AS n_docs,
         |         CAST(sum(n_chars) AS BIGINT) AS total_chars
         |  FROM documents GROUP BY 1
         |), c AS (
         |  SELECT shard, n_docs, total_chars,
         |         CAST(coalesce(sum(total_chars) OVER (
         |           ORDER BY shard
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum_before,
         |         CAST(sum(total_chars) OVER () AS BIGINT) AS total
         |  FROM m
         |)
         |SELECT shard, n_docs, total_chars,
         |       CAST(cum_before // greatest(1, total // 8) AS BIGINT)
         |         AS compact_group
         |FROM c ORDER BY shard""".stripMargin,

    "text_classifier_score" ->
      s"""$tokCte,
         |$clfPerDocCte
         |SELECT d.doc_id,
         |       coalesce(n_toks, 0) AS n_toks,
         |       coalesce(score_fp, 0) AS score_fp,
         |       CAST(CASE WHEN coalesce(score_fp, 0) > 0 THEN 1 ELSE 0 END
         |            AS BIGINT) AS keep
         |FROM documents d LEFT JOIN clfper USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "knn_graph" ->
      s"""WITH $knnRankedCtes
         |SELECT vec_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, cos_sim
         |FROM ranked WHERE rnk <= $knnGraphK
         |ORDER BY vec_id, rank""".stripMargin,

    // mutual-kNN = knn ∩ reverse(knn); triangles via the id-ordered
    // two-hop join (a<b<c built once); wedges from undirected degrees.
    "emb_triangles" ->
      s"""WITH $knnRankedCtes, knn AS (
         |  SELECT vec_id AS a, neighbor_id AS b FROM ranked WHERE rnk <= $knnGraphK
         |), mut AS (
         |  SELECT a, b FROM knn INTERSECT SELECT b, a FROM knn
         |), und AS (
         |  SELECT a, b FROM mut WHERE a < b
         |), deg AS (
         |  SELECT a, CAST(count(*) AS BIGINT) AS d FROM mut GROUP BY a
         |), wed AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |         coalesce(CAST(sum(d * (d - 1) // 2) AS BIGINT), 0) AS n_wedges
         |  FROM deg
         |), edg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und
         |), tri AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |  FROM und e1 JOIN und e2 ON e1.b = e2.a
         |       JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
         |)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |       CASE WHEN n_wedges > 0
         |            THEN 3 * n_triangles * 1000000 // n_wedges
         |            ELSE 0 END AS cc_ppm
         |FROM wed CROSS JOIN edg CROSS JOIN tri""".stripMargin,

    // synchronous LPA unrolled lpaIters rounds: new label = the
    // most-frequent neighbor label, ties to the smallest (max-then-min
    // two-step), isolated nodes keep their own id.
    "emb_communities" ->
      s"""WITH $lpaCtes,
         |sizes AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS community_size
         |  FROM lab$lpaIters GROUP BY 1
         |)
         |SELECT community_size, CAST(count(*) AS BIGINT) AS n_communities,
         |       CAST(community_size * count(*) AS BIGINT) AS n_members
         |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin,

    // Newman modularity over the same LPA partition: exact BIGINT
    // numerator, ONE double division of the two exact integers (both
    // engines round the identical quotient).
    "emb_modularity" ->
      s"""WITH $lpaCtes,
         |und AS (
         |  SELECT a, b FROM mut WHERE a < b
         |), lae AS (
         |  SELECT la.label AS la, lb.label AS lb
         |  FROM und u
         |  JOIN lab$lpaIters la ON u.a = la.id
         |  JOIN lab$lpaIters lb ON u.b = lb.id
         |), mm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |         coalesce(CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END)
         |                       AS BIGINT), 0) AS e_in
         |  FROM lae
         |), degs AS (
         |  SELECT a, CAST(count(*) AS BIGINT) AS d FROM mut GROUP BY 1
         |), dc AS (
         |  SELECT l.label, CAST(sum(d.d) AS BIGINT) AS d_c
         |  FROM degs d JOIN lab$lpaIters l ON d.a = l.id GROUP BY 1
         |), d2 AS (
         |  SELECT coalesce(CAST(sum(d_c * d_c) AS BIGINT), 0) AS sum_d2,
         |         CAST(count(*) AS BIGINT) AS n_linked_comms
         |  FROM dc
         |)
         |SELECT m, e_in, n_linked_comms,
         |       CASE WHEN m = 0 THEN 0.0
         |            ELSE round(CAST(4 * m * e_in - sum_d2 AS DOUBLE)
         |                       / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6)
         |       END AS modularity
         |FROM mm CROSS JOIN d2""".stripMargin,

    "emb_assortativity" ->
      s"""WITH $knnRankedCtes, knn AS (
         |  SELECT vec_id AS a, neighbor_id AS b FROM ranked WHERE rnk <= $knnGraphK
         |), mut AS MATERIALIZED (
         |  SELECT a, b FROM knn INTERSECT SELECT b, a FROM knn
         |), deg AS (
         |  SELECT a, CAST(count(*) AS BIGINT) AS d FROM mut GROUP BY 1
         |), xy AS (
         |  SELECT da.d AS dx, db.d AS dy
         |  FROM mut m JOIN deg da ON m.a = da.a JOIN deg db ON m.b = db.a
         |), sums AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n_ends,
         |         coalesce(sum(CAST(dx AS HUGEINT)), 0) AS sx,
         |         coalesce(sum(CAST(dy AS HUGEINT)), 0) AS sy,
         |         coalesce(sum(CAST(dx AS HUGEINT) * dx), 0) AS sxx,
         |         coalesce(sum(CAST(dy AS HUGEINT) * dy), 0) AS syy,
         |         coalesce(sum(CAST(dx AS HUGEINT) * dy), 0) AS sxy
         |  FROM xy
         |)
         |SELECT CAST(n_ends AS BIGINT) AS n_ends,
         |       CAST(CAST(sxy AS DECIMAL(38,0)) AS VARCHAR) AS sxy,
         |       CASE WHEN n_ends = 0
         |              OR n_ends * sxx - sx * sx = 0
         |              OR n_ends * syy - sy * sy = 0 THEN 0.0
         |            ELSE round(CAST(n_ends * sxy - sx * sy AS DOUBLE)
         |                       / (sqrt(CAST(n_ends * sxx - sx * sx AS DOUBLE))
         |                          * sqrt(CAST(n_ends * syy - sy * sy AS DOUBLE))), 6)
         |       END AS assortativity
         |FROM sums""".stripMargin,

    "corpus_herfindahl" ->
      """WITH by_src AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS nd,
        |         CAST(sum(n_chars) AS BIGINT) AS nc
        |  FROM documents GROUP BY 1
        |), s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |         sum(CAST(nd AS HUGEINT) * nd) AS sd2,
        |         CAST(sum(nd) AS HUGEINT) AS d,
        |         sum(CAST(nc AS HUGEINT) * nc) AS sc2,
        |         CAST(sum(nc) AS HUGEINT) AS c
        |  FROM by_src
        |)
        |SELECT n_sources,
        |       CAST(sd2 * 1000000 // (d * d) AS BIGINT) AS hhi_docs_ppm,
        |       CAST(sc2 * 1000000 // (c * c) AS BIGINT) AS hhi_chars_ppm
        |FROM s""".stripMargin,

    // per k: the unrolled synchronous peel (drop deg<k nodes each
    // round), then one census row; legs UNION ALL. Every peel CTE is
    // MATERIALIZED: each round references the previous one three times
    // (degree rollup + two endpoint joins), so inlining would expand
    // the base scans 3^rounds-fold — measured as a too-many-open-files
    // blowup before materialization.
    "emb_kcore" -> {
      val legs = kCoreKs.map { k =>
        val peels = (1 to kCoreRounds).map { r =>
          s"""keep_${k}_$r AS MATERIALIZED (
             |  SELECT a AS node FROM e_${k}_${r - 1}
             |  GROUP BY 1 HAVING count(*) >= $k
             |), e_${k}_$r AS MATERIALIZED (
             |  SELECT e.a, e.b FROM e_${k}_${r - 1} e
             |  JOIN keep_${k}_$r ka ON e.a = ka.node
             |  JOIN keep_${k}_$r kb ON e.b = kb.node
             |)""".stripMargin
        }.mkString(",\n")
        (s"""e_${k}_0 AS MATERIALIZED (SELECT a, b FROM mut),
            |$peels""".stripMargin,
          s"""SELECT CAST($k AS BIGINT) AS k,
             |       coalesce(CAST(count(DISTINCT a) AS BIGINT), 0) AS n_core_nodes,
             |       CAST(count(*) // 2 AS BIGINT) AS n_core_edges,
             |       (SELECT CAST(count(*) AS BIGINT) FROM (
             |          SELECT a FROM e_${k}_$kCoreRounds
             |          GROUP BY 1 HAVING count(*) < $k)) AS n_underfilled
             |FROM e_${k}_$kCoreRounds""".stripMargin)
      }
      s"""WITH $knnRankedCtes, knn AS (
         |  SELECT vec_id AS a, neighbor_id AS b FROM ranked WHERE rnk <= $knnGraphK
         |), mut AS MATERIALIZED (
         |  SELECT a, b FROM knn INTERSECT SELECT b, a FROM knn
         |),
         |${legs.map(_._1).mkString(",\n")}
         |${legs.map(_._2).mkString("\nUNION ALL\n")}
         |ORDER BY k""".stripMargin
    },

    // oracle = the unpruned all-pairs Hamming truth (the mm_near_dup
    // discipline): parity verifies the pigeonhole candidate set is
    // COMPLETE at the radius, not just that scoring matches.
    "mm_ahash_neardup" ->
      s"""WITH $mmMediaCte,
         |$ahashPairCtes
         |SELECT d1, d2, hamming FROM aprs
         |WHERE hamming <= $ahashMaxHamming
         |ORDER BY d1, d2""".stripMargin,

    // exact integer DCT replay: T interpolated as the SAME 2¹⁴
    // fixed-point literals the Spark side generated; truth is the
    // unpruned all-pairs Hamming (the mm_ahash discipline — parity
    // proves the pigeonhole candidate set is complete at the radius)
    "mm_phash_neardup" ->
      s"""WITH $mmMediaCte,
         |$phashPairCtes
         |SELECT d1, d2, hamming FROM pprs
         |WHERE hamming <= $phashMaxHamming
         |ORDER BY d1, d2""".stripMargin,

    "mm_hash_agreement" ->
      s"""WITH $mmMediaCte,
         |$ahashPairCtes,
         |$phashPairCtes,
         |af AS (SELECT d1, d2 FROM aprs WHERE hamming <= $ahashMaxHamming),
         |pf AS (SELECT d1, d2 FROM pprs WHERE hamming <= $phashMaxHamming),
         |j AS (
         |  SELECT coalesce(a.d1, p.d1) AS d1,
         |         a.d1 IS NOT NULL AS in_ah, p.d1 IS NOT NULL AS in_ph
         |  FROM af a FULL OUTER JOIN pf p
         |    ON a.d1 = p.d1 AND a.d2 = p.d2
         |)
         |SELECT CAST(sum(CASE WHEN in_ah AND in_ph THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |       CAST(sum(CASE WHEN in_ah AND NOT in_ph THEN 1 ELSE 0 END) AS BIGINT) AS n_ahash_only,
         |       CAST(sum(CASE WHEN NOT in_ah AND in_ph THEN 1 ELSE 0 END) AS BIGINT) AS n_phash_only,
         |       CAST(count(*) AS BIGINT) AS n_union,
         |       CAST(sum(CASE WHEN in_ah AND in_ph THEN 1 ELSE 0 END) * 1000000
         |            // greatest(count(*), 1) AS BIGINT) AS agreement_fp6
         |FROM j""".stripMargin

  )
}
