package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for corpus pipelines (SURVEY.md §7 phase F).
 * Four families, in increasing robustness-to-edit order:
 *
 *  1. exact       — hash-groupBy on md5(text); one shuffle keyed by digest,
 *                   map-side partial agg makes it O(|unique|) shuffle rows.
 *  2. MinHash+LSH — shingle → K salted min-hashes → band buckets →
 *                   candidate pairs ONLY within buckets → verify true
 *                   Jaccard. The all-pairs O(n²) never materializes; at
 *                   100 TB the only shuffles are (doc,shingle) explode and
 *                   the band-bucket groupBy, both linear in corpus size.
 *  3. SimHash     — 16-bit signature via per-bit majority vote of token
 *                   hashes; near-dups = signatures within small Hamming
 *                   distance (bit_count(xor)). Signature build is one
 *                   explode + groupBy; the pair scan is on the tiny
 *                   signature table, and at scale would use bit-rotation
 *                   bucketing instead of the demo's self-join.
 *  4. n-gram Jaccard — exact pairwise similarity via the AllPairs/SSJoin
 *                   shape: df-capped postings → per-doc rarity-ordered
 *                   PREFIX → prefix equi-join for candidates → exact
 *                   verify restricted to candidate docs. Lossless
 *                   (prefix completeness proof at [[rarityPrefix]]) and
 *                   never all-pairs: the Zipf head stays out of the
 *                   prefixes, so hot shingles cannot fan out f² pairs.
 *
 * All hashes go through [[TextAnalysis.hash60]] so a DuckDB oracle can
 * reproduce results bit-for-bit.
 */
object Dedup {
  import TextAnalysis._

  /** Small-input → big-intermediate guard: a compact corpus file arrives
    * as one scan partition, which would serialize every downstream
    * explode/join onto one core. Fan the rows out to full parallelism
    * BEFORE the blow-up. At 100 TB the scan already has thousands of
    * splits and this is a no-op. */
  private[graft] def fanout(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Partition COUNT lies for few-file scans: FileSourceScan splits a
    // file by byte ranges, but a parquet ROW GROUP lands entirely in the
    // split containing its midpoint — a 1-row-group file reports N
    // partitions and gives N-1 tasks zero rows, serializing the whole
    // scan-stage compute (measured: the 500k-doc minhash signature stage
    // ran 25x slower than its CPU budget until this check; every fixture
    // file here is single-row-group). `inputFiles.length` is the honest
    // floor on spreadable units, so re-spread whenever fewer FILES than
    // cores feed the frame. At scale this is a no-op (a real corpus
    // arrives as thousands of files); locally the one extra round-robin
    // shuffle of raw docs is the price of using all cores.
    if (df.rdd.getNumPartitions < target || df.inputFiles.length < target)
      df.repartition(target)
    else df
  }

  /** Document-frequency cap for the exact postings self-joins
    * ([[jaccardPairs]], [[containmentPairs]], [[incrementalPairs]]): a
    * shingle appearing in f docs contributes f² candidate pairs, so one
    * boilerplate shingle ("all rights reserved …") is a quadratic shuffle
    * bomb at 100 TB. Postings rows whose shingle's df exceeds the cap are
    * dropped BEFORE the join — such shingles carry near-zero Jaccard
    * information (they're in everything). Set sizes stay the FULL
    * distinct-shingle counts, so capped similarities are conservative
    * (never overestimated). MinHash+LSH is the scale path and needs no
    * cap (its verify step is already restricted to LSH candidates);
    * these exact joins are for candidate verification and moderate
    * corpora. */
  val defaultMaxDf = 1000

  /** Drop postings rows whose shingle document-frequency exceeds maxDf.
    * Shape: aggregate the HOT-shingle list (map-side partial agg shrinks
    * the shuffle to unique shingles, not postings rows), then broadcast
    * anti-join it away. The hot list is the head of a Zipf distribution —
    * |hot| ≤ |postings|/maxDf and in practice far smaller — so the
    * broadcast is tiny and the postings themselves never shuffle for the
    * cap. (A window over shingle computes the same thing but shuffles
    * every postings row; measured ~30% slower on the whole pair join.)
    * At a scale where even the hot list outgrows broadcast, swap for a
    * shuffled left_anti — semantics identical. */
  private def dfCapped(post: DataFrame, maxDf: Int): DataFrame = {
    if (maxDf == Int.MaxValue) return post
    val hot = post.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDf).select("shingle")
    post.join(broadcast(hot), Seq("shingle"), "left_anti")
  }

  /** Exploded (id, shingle) postings — distinct shingles per doc. */
  def shinglePostings(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    fanout(docs).select(col(idCol).as("doc_id"),
        explode(shingles(col(textCol), k)).as("shingle"))

  /** [[shinglePostings]] with the production df cap applied (see
    * [[dfCapped]]) — the postings frame any similarity JOIN should
    * consume. */
  def cappedShinglePostings(docs: DataFrame, idCol: String, textCol: String,
                            k: Int, maxDf: Int): DataFrame =
    dfCapped(shinglePostings(docs, idCol, textCol, k), maxDf)

  /** Per-source exact-duplicate summary over md5(text). The dup count
    * is over NON-NULL texts (count(digest), not count(*)): a null-text
    * doc — routine after PERMISSIVE ingest — duplicates nothing, and
    * charging it as a dup would inflate exactly the rate this summary
    * measures. */
  def exactDupSummary(docs: DataFrame, textCol: String, byCol: String): DataFrame =
    docs.withColumn("digest", md5(col(textCol)))
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("digest")).as("n_unique_texts"),
        (count(col("digest")) - countDistinct(col("digest"))).as("n_dup_docs"))

  /** Exact n-gram Jaccard pairs ≥ threshold via inverted-index self-join:
    * postings ⋈ postings on shingle (d1 < d2) → common counts, then join
    * per-doc set sizes. Shuffles are keyed by shingle then by pair —
    * both bounded by postings size, never by n². */
  /** Postings that carry the doc's shingle-set size alongside each row:
    * n_shingles is functionally dependent on doc_id (size of the distinct
    * shingle array), so the per-doc size aggregation — and the two joins
    * it would feed — disappear: the pair groupBy picks the size up with
    * min(). Two long columns of extra shuffle width buy two fewer stages. */
  private def sizedPostings(docs: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame =
    fanout(docs)
      .select(col(idCol).as("doc_id"), shingles(col(textCol), k).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_shingles"),
        explode(col("sh")).as("shingle"))

  /** Cost-based gate between the two exact-join plans, in POSTINGS rows
    * (known for free — the postings checkpoint must materialize either
    * way). Below the gate the plain capped self-join wins: the prefix
    * machinery costs three extra shuffles (df join, per-doc rank window,
    * pair-expanded verify) that dwarf a small corpus's quadratic risk.
    * Above it, those linear passes are noise next to the self-join's
    * Zipf-head blow-up — measured at 500k docs: the plain join did not
    * finish in an hour, the prefix plan finishes in minutes. */
  val prefixGatePostings: Long = 1L << 20

  /** Postings annotated with each shingle's document frequency and
    * df-capped, materialized once (the raw postings checkpoint keeps the
    * df aggregate and every downstream consumer on a single tokenization
    * pass). Returns (doc_id, n_shingles, shingle, _df). */
  private def dfAnnotated(raw: DataFrame, maxDf: Int): DataFrame =
    raw.join(raw.groupBy("shingle").agg(count(lit(1)).as("_df")), Seq("shingle"))
      .filter(col("_df") <= maxDf)
      .localCheckpoint(false)

  /** Capped postings ranked by GLOBAL rarity within each doc (df asc,
    * shingle asc for determinism): `_rnk` = the doc-local position in
    * that order, `_m` = the doc's surviving-row count. The global order
    * is what makes the PPJoin-style filters below sound: the common
    * shingles of any pair appear in the SAME relative order in both
    * docs, so their rarest common shingle has the minimal rank on both
    * sides simultaneously. */
  private def rankedPostings(post: DataFrame): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    post
      .withColumn("_rnk", row_number().over(byDoc.orderBy(col("_df"), col("shingle"))))
      .withColumn("_m", count(lit(1)).over(byDoc))
  }

  /** AllPairs/SSJoin prefix over [[rankedPostings]]: keep each doc's
    * first `m − ⌈t·n⌉ + 1` rows (m = rows surviving the cap, n = the
    * FULL set size the similarity denominators use). Completeness under
    * the capped semantics: a qualifying pair has common ≥ t·n per side
    * (see call sites), so if a doc's common shingles all hid past its
    * prefix they would fit in a suffix of ⌈t·n⌉ − 1 rows — fewer than
    * common. The pair's globally rarest common shingle therefore sits
    * inside the prefix, and candidate generation restricted to prefixes
    * loses nothing. The point at scale: the Zipf HEAD almost never
    * appears in a prefix (rarest first), so a df-800 boilerplate
    * shingle no longer fans out f² candidate pairs — the df cap alone
    * cannot catch those. Keeps (_rnk, _m, n_shingles) so the callers'
    * positional and size-bound filters can prune candidates. */
  private def rarityPrefix(ranked: DataFrame, overlapFloor: Column): DataFrame =
    ranked.filter(col("_rnk") <= col("_m") - ceil(overlapFloor).cast("long") + 1)
      .select("doc_id", "shingle", "_rnk", "_m", "n_shingles")

  /** Verified similarity for a candidate pair set — candidate-PAIR
    * bounded, the SSJoin verify step: expand each pair by d1's postings
    * (doc-keyed join), keep the shingles d2 also has ((doc, shingle)-keyed
    * join), count. Cost is Σ over candidate pairs of |postings(d1)| —
    * never a postings self-join. (Restricting a self-join to candidate
    * DOCS, the shape the LSH verify gets away with because its candidate
    * set is tiny, degenerates back to the full quadratic join when
    * candidates touch a large fraction of the corpus.) Candidates are a
    * complete superset of qualifying pairs by the prefix argument, so the
    * output equals the full self-join's. */
  private def verifyCandidates(post: DataFrame, cand: DataFrame): DataFrame = {
    val pa = post.select(col("doc_id").as("d1"), col("n_shingles").as("n1"),
      col("shingle"))
    val pb = post.select(col("doc_id").as("d2"), col("n_shingles").as("n2"),
      col("shingle"))
    cand.join(pa, Seq("d1"))
      .join(pb, Seq("d2", "shingle"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("common"),
        min(col("n1")).as("n1"), min(col("n2")).as("n2"))
  }

  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int, threshold: Double,
                   maxDf: Int = defaultMaxDf,
                   prefixGate: Long = prefixGatePostings): DataFrame = {
    val raw = sizedPostings(docs, idCol, textCol, k).localCheckpoint(false)
    if (raw.count() <= prefixGate) {
      val post = dfCapped(raw, maxDf)
      pairsFromSizedPostings(post, threshold)
        .select("d1", "d2", "common", "jaccard")
    } else {
      val post = dfAnnotated(raw, maxDf)
      // PRUNING threshold, strictly below the verify threshold: the
      // final filter admits round(j, 6) ≥ t, i.e. true jaccard up to
      // 5e-7 BELOW t — so every pruning floor must be derived from
      // tP < t − 5e-7, or a boundary pair the verify step would admit
      // gets pruned before verification once n reaches ~10⁶ (an
      // absolute 1e-6 slack on the count comparison is not enough at
      // that scale). tP in the ceil() also absorbs the IEEE round-up
      // of t·n across an integer boundary (0.07·100 = 7.000…001 would
      // otherwise shorten the prefix by one row and lose a pair).
      val tP = threshold - 1e-6
      // jaccard ≥ t ⟹ common ≥ t·(n1+n2)/(1+t) ≥ t·max(n1,n2): both
      // sides satisfy the prefix floor with their own full size, so a
      // two-sided prefix self-join generates a complete candidate set
      val prefix = rarityPrefix(rankedPostings(post),
          lit(tP) * col("n_shingles"))
        // per-doc size-bound pre-prune: a qualifying pair needs
        // common ≥ t·(n1+n2)/(1+t) and n2 ≥ t·n1 forces
        // m1 ≥ common ≥ t·n1 — docs whose capped rows fall short of
        // their own floor cannot appear in any qualifying pair
        .filter(col("_m").cast("double") >=
          lit(tP) * col("n_shingles").cast("double") - lit(1e-6))
        .localCheckpoint(false)
      // PPJoin-style candidate pruning (Xiao et al. 2008), both filters
      // LOSSLESS under the capped semantics (common ≤ min(m1, m2), the
      // capped row counts; qualifying floor common ≥ t·(n1+n2)/(1+t)
      // over the FULL sizes the denominator uses):
      //  - size-bound filter, applied per ROW in the join condition so
      //    pruned pairs never reach the pair shuffle: a pair whose
      //    smaller capped side cannot reach the floor cannot qualify
      //    (this subsumes the classic length filter n1 ≥ t·n2, which
      //    uses the weaker min(n1,n2) overlap ceiling);
      //  - positional filter, per PAIR after the groupBy: the rarest
      //    common shingle is matched in both prefixes (completeness
      //    argument), its ranks are the min matched ranks (global order
      //    ⟹ every common shingle ranks at or after it on BOTH sides),
      //    so common ≤ min(m1 − i1 + 1, m2 − j1 + 1) — prune pairs
      //    whose tail room cannot reach the floor. The 1e-6 slack keeps
      //    the double comparisons conservative (never prunes a
      //    qualifying pair; counts are integers, so the slack is inert).
      val floorDefect = lit(1e-6)
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
            least(col("a._m"), col("b._m")).cast("double") * (1.0 + tP) >=
              lit(tP) * (col("a.n_shingles") + col("b.n_shingles")).cast("double") -
                floorDefect)
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(min(col("a._rnk")).as("i1"), min(col("b._rnk")).as("j1"),
          min(col("a._m")).as("m1"), min(col("b._m")).as("m2"),
          min(col("a.n_shingles")).as("fn1"), min(col("b.n_shingles")).as("fn2"))
        .filter(
          least(col("m1") - col("i1") + 1, col("m2") - col("j1") + 1).cast("double") *
            (1.0 + tP) >=
            lit(tP) * (col("fn1") + col("fn2")).cast("double") - floorDefect)
        .select("d1", "d2")
      verifyCandidates(post, cand)
        .withColumn("jaccard",
          round(col("common").cast("double") /
            (col("n1") + col("n2") - col("common")).cast("double"), 6))
        .filter(col("jaccard") >= threshold)
        .select("d1", "d2", "common", "jaccard")
    }
  }

  /** Asymmetric near-dup by shingle CONTAINMENT:
    * max(|A∩B|/|A|, |A∩B|/|B|) ≥ threshold. Catches the quote-inclusion
    * pairs Jaccard misses — a short doc fully embedded in a long one has
    * Jaccard |A|/|B| (small) but containment 1.0. Same inverted-index
    * postings self-join shape as [[jaccardPairs]]; only the denominator
    * changes, so the scale story is identical. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, threshold: Double,
                       maxDf: Int = defaultMaxDf,
                       prefixGate: Long = prefixGatePostings): DataFrame = {
    val raw = sizedPostings(docs, idCol, textCol, k).localCheckpoint(false)
    val verified =
      if (raw.count() <= prefixGate) {
        commonWithSizes(dfCapped(raw, maxDf))
      } else {
        val post = dfAnnotated(raw, maxDf)
        // containment ≥ t ⟹ common ≥ t·min(n1, n2): only the SMALLER
        // side's prefix floor is guaranteed, so candidate generation
        // joins every doc's prefix (as the potential smaller side)
        // against FULL postings. One hot side still fans out, but
        // f_prefix·f beats the f² of the plain self-join — and the df
        // cap bounds f itself. No length filter exists for containment
        // (a short doc fully inside a long one qualifies at ANY size
        // ratio). The one PPJoin filter that survives measurement here
        // is the per-DOC size bound, applied to the prefix BEFORE the
        // join: a doc whose capped rows cannot reach its own
        // smaller-side floor (m < t·n) cannot anchor any qualifying
        // pair as the smaller side — and the symmetric role is covered
        // by the other doc's leg. A pair-level positional filter was
        // measured and REJECTED: it forces the candidate dedup from one
        // least/greatest+distinct (ordered pairs collapse in the same
        // shuffle) into a groupBy on ordered pairs PLUS a second
        // distinct — two pair-volume shuffles instead of one, which at
        // the 500k-doc probe cost far more than the pruned verify work
        // (44 s → 112 s). Jaccard keeps its positional filter because
        // its candidates are already canonically ordered (d1 < d2) and
        // the groupBy replaces the distinct one-for-one.
        // pruning threshold tP: same round-to-6dp admission argument as
        // the jaccard prefix path — floors must undershoot the verify
        // threshold by more than the rounding window
        val tP = threshold - 1e-6
        val prefix = rarityPrefix(rankedPostings(post),
            lit(tP) * col("n_shingles"))
          .filter(col("_m").cast("double") >=
            lit(tP) * col("n_shingles").cast("double") - lit(1e-6))
          .select("doc_id", "shingle")
          .localCheckpoint(false)
        val cand = prefix.as("a").join(post.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.doc_id") =!= col("b.doc_id"))
          .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
          .distinct()
        verifyCandidates(post, cand)
      }
    verified
      .withColumn("containment",
        round(greatest(
          col("common").cast("double") / col("n1").cast("double"),
          col("common").cast("double") / col("n2").cast("double")), 6))
      .filter(col("containment") >= threshold)
      .select("d1", "d2", "common", "containment")
  }

  /** Incremental-ingest dedup: near-dup Jaccard pairs between an
    * existing STORE corpus and a newly arriving BATCH — the production
    * shape of continuous corpus building, where re-pairing the whole
    * corpus on every ingest (what [[jaccardPairs]] over store∪batch
    * would do) is O(corpus) work for O(batch) new data. The join is the
    * same shingle-keyed inverted index, but asymmetric: store postings ⋈
    * batch postings, so candidate volume is bounded by the BATCH side's
    * postings. At 100 TB the store postings are a persisted table
    * bucketed by shingle — only the (small) batch side shuffles, and the
    * store is read once per ingest, never self-joined. Returns
    * (store_id, batch_id, common, jaccard ≥ threshold). */
  def incrementalPairs(store: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String, k: Int, threshold: Double,
                       maxDf: Int = defaultMaxDf): DataFrame =
    // The checkpoint keeps the df-cap's hot-list aggregate from
    // re-tokenizing the store; at scale callers skip this entry point
    // entirely and feed PERSISTED postings to
    // [[incrementalPairsFromPostings]] (what [[graft.streaming
    // .NearDupIngest]] does — the store text is tokenized exactly once,
    // when its batch is admitted).
    incrementalPairsFromPostings(
      sizedPostings(store, idCol, textCol, k).localCheckpoint(false),
      sizedPostings(batch, idCol, textCol, k), threshold, maxDf)

  /** The (doc_id, n_shingles, shingle) postings frame of `docs` — the
    * persistable store-side input of [[incrementalPairsFromPostings]].
    * Writing each admitted batch's postings beside the corpus is what
    * makes continuous ingest O(batch) instead of O(corpus): admission
    * joins the new batch against this table, never the store text. */
  def sizedShinglePostings(docs: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame =
    sizedPostings(docs, idCol, textCol, k)

  /** [[incrementalPairs]] with the store side ALREADY tokenized —
    * `storePostings` in [[sizedShinglePostings]] shape, typically read
    * from a persisted (at scale: shingle-bucketed) postings table. */
  def incrementalPairsFromPostings(storePostings: DataFrame,
                                   batchPostings: DataFrame,
                                   threshold: Double,
                                   maxDf: Int = defaultMaxDf): DataFrame = {
    // df cap on the STORE side only: store df is the knowable, persisted
    // statistic (at scale it lives alongside the bucketed postings
    // table), and a store-ubiquitous shingle is exactly the one whose
    // posting list would fan every batch doc out quadratically.
    // (A store-side semi-join prune on the batch's distinct shingles
    // was measured here and REJECTED: when micro-batches are a
    // non-trivial fraction of the store — any bootstrap or backfill —
    // the extra pass costs more than the pruned shuffle saves, and with
    // the at-scale shingle-bucketed postings layout the main join is
    // already co-located, making the prune a pure extra scan.)
    val sp = dfCapped(storePostings, maxDf)
    val bp = batchPostings
    // PPJoin length filter in the join condition: jaccard ≥ t forces
    // the set sizes within a factor t of each other (common ≤ min(n1,n2)
    // and common ≥ t·(n1+n2)/(1+t) ⟹ n1 ≥ t·n2 ∧ n2 ≥ t·n1), so a
    // store posting row meets a batch row of incompatible size and is
    // dropped BEFORE the pair shuffle — lossless, and at scale it
    // prunes the dominant cost (candidate aggregation volume). The
    // 1e-6 slack keeps the double comparison conservative.
    // threshold − 1e-6 in the length filter, not threshold: the verify
    // step admits round(j, 6) ≥ t (true j up to 5e-7 below t), and at
    // n_shingles ~ 10⁶ the absolute 1e-6 slack alone cannot cover that
    // relative window (same argument as jaccardPairs' tP)
    sp.as("a").join(bp.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.n_shingles").cast("double") >=
          lit(threshold - 1e-6) * col("b.n_shingles").cast("double") - lit(1e-6) &&
        col("b.n_shingles").cast("double") >=
          lit(threshold - 1e-6) * col("a.n_shingles").cast("double") - lit(1e-6))
      .groupBy(col("a.doc_id").as("store_id"), col("b.doc_id").as("batch_id"))
      .agg(count(lit(1)).as("common"),
        min(col("a.n_shingles")).as("n1"), min(col("b.n_shingles")).as("n2"))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("n1") + col("n2") - col("common")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("store_id", "batch_id", "common", "jaccard")
  }

  /** The shared pair-generation core of the Jaccard and containment
    * metrics: shingle-keyed postings self-join → (d1, d2, common, n1,
    * n2), set sizes read off the postings themselves (see
    * [[sizedPostings]]). */
  private def commonWithSizes(post: DataFrame): DataFrame =
    post.as("a").join(post.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"),
        min(col("a.n_shingles")).as("n1"), min(col("b.n_shingles")).as("n2"))

  private def pairsFromSizedPostings(post: DataFrame, threshold: Double): DataFrame =
    commonWithSizes(post)
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("n1") + col("n2") - col("common")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)

  /** K salted min-hash columns (the signature) per doc. Docs with no
    * shingles (fewer than k tokens) drop out — they cannot near-dup.
    *
    * A pure projection — NO explode and NO shuffle: the signature stage
    * pipelines inside the scan stage at 100 TB. All K minhashes come from
    * the single-pass [[MinHashSig]] kernel; values are identical to the
    * exploded groupBy/min-of-salted-md5 form the DuckDB oracle uses
    * (pinned by CorpusSpec). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, numHashes: Int): DataFrame =
    splaySig(fanout(docs)
      .select(col(idCol).as("doc_id"),
        MinHashSig.toColumn(shingles(col(textCol), k), numHashes).as("sig"))
      .filter(col("sig").isNotNull), numHashes)

  /** Splay the signature ARRAY into mh0..mhK-1 columns — with the (tiny:
    * id + K longs per doc) sig frame MATERIALIZED first. The splay holds
    * K `element_at` references to the `sig` alias, and an alias is not a
    * computed value: unmaterialized, every reference re-evaluates the
    * whole MinHashSig (K md5s per shingle), turning the signature stage
    * into K+1 full passes — measured 85 s instead of ~4 s over 500k docs
    * before the barrier existed. (Catalyst's subexpression elimination
    * does not reach across the Project/Filter boundary here.) */
  private def splaySig(sigFrame: DataFrame, numHashes: Int): DataFrame =
    sigFrame.localCheckpoint(false)
      .select(col("doc_id") +:
        (0 until numHashes).map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)

  /** LSH banding: split the K-column signature into bands of `rowsPerBand`,
    * key each band by md5 of its joined values. Emits (doc_id, band, key). */
  def lshBands(sig: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be divisible by rowsPerBand ($rowsPerBand) — " +
        "trailing minhashes would silently drop out of every band")
    val bands = numHashes / rowsPerBand
    val bandStructs = (0 until bands).map { b =>
      val key = md5(concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*))
      struct(lit(b).as("band"), key.as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Full MinHash+LSH near-dup pipeline: candidates from band-bucket
    * collisions, verified with true Jaccard ≥ threshold. Returns
    * (d1, d2, n_bands_matched, jaccard). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, numHashes: Int, rowsPerBand: Int,
                      threshold: Double): DataFrame = {
    // the shingle ARRAY feeds both the signature projection and the
    // postings explode — build it once per doc and materialize; both
    // downstream frames then derive without re-tokenizing the corpus
    val docSh = fanout(docs)
      .select(col(idCol).as("doc_id"), shingles(col(textCol), k).as("sh"))
      .localCheckpoint(false)
    val post = docSh.select(col("doc_id"), size(col("sh")).as("n_shingles"),
      explode(col("sh")).as("shingle"))
    val sig = splaySig(docSh
      .select(col("doc_id"), MinHashSig.toColumn(col("sh"), numHashes).as("sig"))
      .filter(col("sig").isNotNull), numHashes)
    val bands = lshBands(sig, numHashes, rowsPerBand).localCheckpoint(false)
    // cand is consumed by FOUR downstream branches (both unioned candDocs
    // projections — each behind its own broadcast — and the final join).
    // Unmaterialized, every branch re-runs the band self-join pipeline;
    // the candidate set is near-dup-sized (tiny), so pin it once.
    val cand = bandCollisions(bands)
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_bands_matched"))
      .localCheckpoint(false)
    // verify: true Jaccard restricted to docs that appear in a candidate
    // pair — at scale this is the difference between re-scanning the whole
    // postings self-join and touching only the (tiny) near-dup fraction.
    val candDocs = cand.select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct().localCheckpoint(false)
    val postC = post.join(broadcast(candDocs), Seq("doc_id"))
    cand.join(pairsFromSizedPostings(postC, threshold), Seq("d1", "d2"))
      .select("d1", "d2", "n_bands_matched", "jaccard")
  }

  /** LSH quality diagnostics: band-collision CANDIDATES vs the exact
    * Jaccard ≥ t truth (production df cap applied to the truth, same as
    * [[jaccardPairs]]). One row — pair counts, true positives,
    * precision, recall — the artifact that justifies (or retunes) the
    * banding parameters before a full-corpus run.
    *
    * Scale: the exact-truth leg is inherently O(qualifying pairs), so
    * the WHOLE diagnostic (signatures, bands, truth) runs on a
    * deterministic hash-sample of docs — keep doc iff
    * hash60(doc_id) mod `sampleMod` == 0. Pair work shrinks by
    * sampleMod², making precision/recall measurable at any corpus size
    * (pick sampleMod so the sample is ~10⁵-10⁶ docs); sampleMod = 1
    * evaluates the full corpus. Both legs see the SAME sampled
    * sub-corpus, so the metrics are exact on the sample (only
    * cross-boundary pairs are invisible — inherent to doc-sampling and
    * unbiased w.r.t. banding behavior). The truth carries the
    * production df cap, so precision is a LOWER bound on precision
    * against uncapped truth: a candidate pair whose true Jaccard ≥ t
    * only via cap-suppressed hot shingles counts as a false positive
    * here (such shingles carry near-zero similarity information, so the
    * gap is negligible in practice). */
  def lshEval(docs: DataFrame, idCol: String, textCol: String, k: Int,
              numHashes: Int, rowsPerBand: Int, threshold: Double,
              sampleMod: Long = 1L): DataFrame =
    // one-config sweep: the candidate join, sampling, truth leg, and
    // precision/recall algebra exist ONCE (in lshSweep) — a diagnostic
    // that duplicated them could silently diverge from the pipeline it
    // certifies
    lshSweep(docs, idCol, textCol, k, numHashes, Seq(rowsPerBand),
        threshold, sampleMod)
      .select("n_exact", "n_candidates", "n_true_pos", "precision", "recall")

  /** Band-collision candidate pairs (d1 < d2) from an [[lshBands]]
    * frame — the ONE candidate-generation join every LSH consumer
    * shares (production pipeline, eval, sweep). */
  private def bandCollisions(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))

  /** Banding parameter SWEEP — [[lshEval]] generalized to the tuning
    * curve: one signature frame and one exact-truth frame (both pinned
    * once), evaluated against every (bands, rowsPerBand) design point in
    * `rowsPerBandConfigs`. This is how the b/r knobs actually get
    * chosen: raising rowsPerBand sharpens the S-curve (higher precision,
    * lower recall); the sweep shows the whole trade-off from ONE corpus
    * pass per shared frame plus a bands-explode per config. Sample
    * discipline matches lshEval (deterministic hash60 mod, mirrored in
    * the oracle); precision is a lower bound under the production df
    * cap, as there. */
  def lshSweep(docs: DataFrame, idCol: String, textCol: String, k: Int,
               numHashes: Int, rowsPerBandConfigs: Seq[Int],
               threshold: Double, sampleMod: Long = 1L): DataFrame = {
    require(rowsPerBandConfigs.nonEmpty, "lshSweep needs at least one config")
    val sampled =
      if (sampleMod <= 1L) docs
      else docs.filter(
        pmod(hash60(col(idCol).cast("string")), lit(sampleMod)) === 0L)
    // Checkpoint discipline, measured r21 at BOTH scales — keep every
    // shared frame LAZY. Eager-pinning `exact` (it feeds 2·|configs|
    // concurrent branches) was a wash at sf0.1 (interleaved min-of-3:
    // sweep 3.61 vs 3.33, eval 2.78 vs 2.60) and a 2.3x REGRESSION at
    // the 500k-doc probe (sweep 121.5 s vs 53.4 s): lazy lets the
    // branches overlap the pairs pipeline with the signature/banding
    // work while block-level locks prevent duplicate compute, whereas
    // the eager pin is a blocking barrier before any config starts.
    // (Contrast dedup_transitivity, where the eager pin won 89 s vs
    // 39 s — its five consumer branches re-ran a checkpointed-input-
    // free 3-pass pipeline; here the pipeline's own inner checkpoints
    // already bound the re-run cost.) The all-eager variant was also
    // measured worse (4.79/5.12 s same-session), and broadcasting
    // `exact` into the TP join was REJECTED: per-config broadcast
    // builds re-ran the pipeline (24.5 s lazy) or serialized it
    // (6.07 s eager); AQE already converts these tiny joins after the
    // (tiny) shuffles.
    val exact = jaccardPairs(sampled, idCol, textCol, k, threshold)
      .select(col("d1"), col("d2")).localCheckpoint(false)
    val sigs = minhashSignatures(sampled, idCol, textCol, k, numHashes)
      .localCheckpoint(false)
    rowsPerBandConfigs.map { r =>
      // cand feeds two aggregates (count + true-positive join) — pin it
      // so the band self-join runs once per config, not twice
      val cand = bandCollisions(lshBands(sigs, numHashes, r))
        .distinct().localCheckpoint(false)
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(cand.join(exact, Seq("d1", "d2"))
          .agg(count(lit(1)).as("n_true_pos")))
        .select(lit(r).as("rows_per_band"),
          lit(numHashes / r).as("n_bands"),
          col("n_exact"), col("n_candidates"), col("n_true_pos"),
          when(col("n_candidates") === 0, 0.0).otherwise(
            round(col("n_true_pos").cast("double") /
              col("n_candidates").cast("double"), 6)).as("precision"),
          when(col("n_exact") === 0, 0.0).otherwise(
            round(col("n_true_pos").cast("double") /
              col("n_exact").cast("double"), 6)).as("recall"))
    }.reduce(_ unionByName _).orderBy("rows_per_band")
  }

  /** Benchmark decontamination — the training-corpus step near-dup dedup
    * exists to serve: flag training docs sharing any k-shingle with an
    * eval/benchmark set. Inverted-index semi-join shape: only docs
    * sharing a shingle ever meet, and the eval side (small by nature)
    * broadcasts. Returns (doc_id, n_shared_shingles, n_eval_docs_hit). */
  def contamination(train: DataFrame, eval_ : DataFrame, idCol: String,
                    textCol: String, k: Int): DataFrame = {
    val trainPost = shinglePostings(train, idCol, textCol, k)
    val evalPost = shinglePostings(eval_, idCol, textCol, k)
      .withColumnRenamed("doc_id", "eval_doc_id")
    trainPost.join(broadcast(evalPost), Seq("shingle"))
      .groupBy(col("doc_id"))
      // countDistinct, not count: one shared shingle present in three
      // eval docs is ONE shared shingle (count(*) would report join
      // rows and overstate overlap by the eval-side multiplicity)
      .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
        countDistinct(col("eval_doc_id")).as("n_eval_docs_hit"))
  }

  /** Connected components over near-dup pairs: every doc in a duplicate
    * cluster maps to the cluster's smallest doc_id (the canonical
    * survivor — what an LLM-corpus dedup actually keeps). Returns
    * (doc_id, canonical_id).
    *
    * Two execution paths behind one semantics, picked by the MATERIALIZED
    * edge count (known for free — the edge frame must materialize before
    * any round anyway):
    *
    *  - edges ≤ `driverGateEdges`: driver-side union-find with path
    *    compression. Near-dup pairs are a tiny fraction of any real
    *    corpus by construction (they are what dedup REMOVES), so even a
    *    petabyte corpus usually yields an edge list that fits on the
    *    driver — the same small-side reasoning that justifies a
    *    broadcast join. O(E α(E)) with zero further Spark jobs, where
    *    the distributed loop pays several jobs per round of pure
    *    fixed overhead on a frame this small. The default gate (1M
    *    undirected edges ≈ 2M collected rows ≈ low hundreds of MB of
    *    driver heap at Row overhead) stays safe under a 1-2 GB driver.
    *  - edges > gate (or non-long ids): distributed large-star /
    *    small-star alternation (Kiveris et al. 2014, "Connected
    *    Components in MapReduce and Beyond"). Unlike label propagation —
    *    which re-joins the FULL edge set against a label table every
    *    round, forever — the star operations REWRITE the edge set
    *    itself: each round contracts the graph toward stars rooted at
    *    the component minimum, so both the round count (O(log²) in
    *    component size, O(log) in practice) and the per-round shuffle
    *    volume shrink as components collapse. A chain-shaped dup graph
    *    (doc i ~ doc i+1, the propagation worst case) collapses in
    *    ~log₂(length) rounds — see the planted-chain property test.
    *    `iterations` (50 covers any real graph) is a safety cap, not a
    *    correctness knob; the loop exits on the edge-set fixpoint. */
  def dupClusters(pairs: DataFrame, iterations: Int = 50,
                  driverGateEdges: Long = 1L << 20): DataFrame =
    dupClustersWithRounds(pairs, iterations, driverGateEdges)._1

  /** [[dupClusters]] + the number of distributed star rounds executed
    * (0 on the driver path) — exposed so tests can assert the
    * logarithmic round count on planted topologies. */
  private[graft] def dupClustersWithRounds(pairs: DataFrame, iterations: Int = 50,
      driverGateEdges: Long = 1L << 20): (DataFrame, Int) = {
    // Iterative plans MUST cut lineage each round: round i's edges are
    // consumed by two groupBys and a join in round i+1, so an
    // unmaterialized loop doubles the plan per iteration — 2^N
    // recomputations of the upstream pair pipeline. localCheckpoint
    // materializes the (tiny) edge frames; at petabyte scale the same
    // loop uses reliable checkpointing.
    val edges = pairs
      .select(col("d1").as("u"), col("d2").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    val spark = pairs.sparkSession
    val longIds = pairs.schema("d1").dataType ==
      org.apache.spark.sql.types.LongType
    // the count doubles as the edge materialization the loop needs anyway
    if (longIds && edges.count() <= driverGateEdges) {
      // union-find with path compression; canonical = component min
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      edges.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by MIN root — the root then IS the component minimum,
        // no second pass needed
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet.forEach(k => out += ((k, find(k))))
      import spark.implicits._
      return (out.toSeq.toDF("doc_id", "canonical_id"), 0)
    }
    // large-star: per node u, hook every STRICTLY LARGER neighbor to
    // m = min(Γ(u) ∪ {u}). Symmetrize first — each node must see its
    // full neighborhood. Emitted edges always point high → low (v ≥ m by
    // construction and v > u ≥ m), connectivity is preserved (every
    // emitted edge stays inside u's component; every dropped edge (u,v)
    // is re-expressible via the (v,m)+(u=m-or-hooked) path).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // small-star: orient edges high → low, then per node u hook all its
    // smaller neighbors AND u itself to m = min of those neighbors —
    // flattening two-hop down-paths into direct root links.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
      dir.join(mins, Seq("u"))
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var e = edges
    var prevCount = e.count()
    var it = 0
    var converged = prevCount == 0
    while (it < iterations && !converged) {
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val nextCount = next.count()
      // fixpoint = edge SET unchanged. Stars rooted at the component min
      // are fixed points of both operations, so set-equality terminates;
      // count-first short-circuits the (anti-join) set compare on every
      // still-contracting round.
      converged = nextCount == prevCount && next.except(e).isEmpty
      e = next
      prevCount = nextCount
      it += 1
    }
    // converged edges form stars (u → component min). Roots appear only
    // on the v side; the groupBy-min collapses the duplicate (v, v) rows
    // a root with several children generates.
    val labels = e.select(col("u").as("doc_id"), col("v").as("canonical_id"))
      .union(e.select(col("v").as("doc_id"), col("v").as("canonical_id")))
      .groupBy("doc_id").agg(min(col("canonical_id")).as("canonical_id"))
    (labels, it)
  }

  /** Materialized near-dup artifact: the postings → pairs → connected-
    * components chain ([[jaccardPairs]] → [[dupClusters]]) computed ONCE
    * per corpus version and persisted as TWO parquet tables under one
    * atomically-published directory — `edges` (the verified pairs:
    * d1, d2, common, jaccard) and `labels` (doc_id, canonical_id) —
    * that every downstream consumer (survivors, quality-aware keep,
    * cluster analytics, the transitivity census) READS instead of
    * re-deriving. This is the production architecture at 100 TB: the
    * chain is three full corpus passes, and a pipeline that needs its
    * outputs in four places must not pay it four times — the same
    * persisted-store shape [[incrementalPairs]] already assumes for its
    * shingle postings. Compute-if-absent keyed on the artifact
    * directory (caller encodes corpus version + chain parameters in the
    * path); presence = BOTH sub-tables' `_SUCCESS` markers (published
    * together by one rename), so a half-written artifact from a killed
    * run recomputes rather than being trusted.
    * [[clustersTable]] returns `labels`; [[pairsTable]] returns
    * `edges`; either builds the whole artifact when absent. */
  def clustersTable(docs: => DataFrame, idCol: String, textCol: String,
                    k: Int, threshold: Double, dir: String): DataFrame =
    ensureNearDupArtifact(docs, idCol, textCol, k, threshold, dir)
      .read.parquet(s"$dir/labels")

  /** The verified near-dup pair table of the artifact (see
    * [[clustersTable]]): (d1, d2, common, jaccard). */
  def pairsTable(docs: => DataFrame, idCol: String, textCol: String,
                 k: Int, threshold: Double, dir: String): DataFrame =
    ensureNearDupArtifact(docs, idCol, textCol, k, threshold, dir)
      .read.parquet(s"$dir/edges")

  private def ensureNearDupArtifact(docs: => DataFrame, idCol: String,
      textCol: String, k: Int, threshold: Double,
      dir: String): org.apache.spark.sql.SparkSession = {
    ArtifactPublish.ensure(dir, Seq("edges", "labels")) { tmp =>
      val d = docs
      // the pairs frame feeds the edges write AND the components loop;
      // the two consume it in SEQUENTIAL actions, so the lazy checkpoint
      // materializes on the first and is reused by the second
      val pairs = jaccardPairs(d, idCol, textCol, k, threshold)
        .localCheckpoint(false)
      pairs.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(tmp, "edges").toString)
      dupClusters(pairs).write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(tmp, "labels").toString)
    }
    org.apache.spark.sql.SparkSession.active
  }

  /** Triangle/wedge census over an undirected edge list given in
    * canonical (d1 < d2) orientation: one row —
    * (n_edges, n_wedges, n_triangles, transitivity = 3·T/W rounded to
    * 6 dp, 0 when wedgeless). Triangles via the oriented edge-iterator
    * join (each triangle a<b<c counted exactly once — O(Σdeg²)
    * candidate paths, all equi-joins); wedges from the degree table.
    * Caller should pass a MATERIALIZED edge frame ([[pairsTable]] or an
    * eager checkpoint): the five consumer branches below launch
    * concurrently in one action and would race a lazy checkpoint's
    * materialization. */
  def transitivityCensus(edges: DataFrame): DataFrame = {
    val e = edges.select(col("d1"), col("d2"))
    val deg = e.select(col("d1").as("v")).union(e.select(col("d2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(
      coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)).as("n_wedges"))
    val tri = e.as("ab").join(e.as("bc"), col("ab.d2") === col("bc.d1"))
      .join(e.as("ac"),
        col("ac.d1") === col("ab.d1") && col("ac.d2") === col("bc.d2"))
      .agg(count(lit(1)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(wedges)).crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0, 0.0).otherwise(
          round(lit(3).cast("double") * col("n_triangles").cast("double") /
            col("n_wedges").cast("double"), 6)).as("transitivity"))
  }

  /** Dedup-aware deterministic train/val/test split — the step where
    * near-dup clustering pays off beyond removal: a doc's split is
    * decided by hash60(salt|CANONICAL id) mod 100, so every member of a
    * near-dup cluster lands in the SAME split. Splitting on raw doc_id
    * leaks: a train doc's near-duplicate in the validation set inflates
    * every eval metric (the train/test contamination failure mode,
    * measured repeatedly in LLM training). Unclustered docs use their
    * own id as canonical. Pure projection after one id-keyed left join
    * whose right side is near-dup-sized — broadcast at any corpus
    * scale; no RNG, so the same rows split identically on every run and
    * engine. Returns docs + (canon, bucket, split). */
  def leakageFreeSplit(docs: DataFrame, idCol: String, clusters: DataFrame,
                       trainPct: Int, valPct: Int, salt: String): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"split percents must leave room for test: train=$trainPct val=$valPct")
    docs
      .join(broadcast(clusters.select(col("doc_id").as(idCol), col("canonical_id"))),
        Seq(idCol), "left")
      .withColumn("canon", coalesce(col("canonical_id"), col(idCol)))
      .drop("canonical_id")
      .withColumn("bucket",
        pmod(hash60(concat(lit(s"$salt|"), col("canon").cast("string"))), lit(100L)))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** The keep-predicate of [[stratifiedSample]] as a standalone Column —
    * composable into multi-stage pipelines that track per-stage flags
    * instead of materializing each stage. */
  def stratifiedKeep(id: Column, stratum: Column, rates: Map[String, Int],
                     defaultPct: Int, salt: String): Column = {
    val pct = rates.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(stratum === s, lit(p)).otherwise(acc)
    }
    pmod(hash60(concat(lit(s"$salt|"), id.cast("string"))), lit(100L)) < pct
  }

  /** Deterministic stratified sampling — the data-mixture step that
    * follows dedup in a corpus pipeline: keep a doc iff
    * hash60(salt|doc_id) mod 100 < pct(source). Pure filter projection
    * (no shuffle, no RNG): the SAME rows are kept on every run, every
    * engine, any partitioning — reproducible corpus builds. Rates are
    * whole percents per stratum; unknown strata use defaultPct. */
  def stratifiedSample(docs: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Int], defaultPct: Int,
                       salt: String): DataFrame =
    docs.filter(stratifiedKeep(col(idCol), col(stratumCol), rates, defaultPct, salt))

  /** Weighted sampling without replacement — sequential Poisson sampling
    * (Ohlsson): priority = u / w with u = hash60(salt|id)/2^60, keep the n
    * smallest priorities per stratum. Longer/heavier docs are
    * proportionally more likely to survive, yet the draw is a pure
    * DETERMINISTIC projection — the same rows on every run, every
    * engine, any partitioning (no RNG). Selection is a heap prune
    * ([[graft.plans.TopK]]: partial per-partition heaps, so the
    * exchange carries at most strata·n rows per partition — the sample
    * size — instead of sorting the whole corpus per stratum) that keeps
    * exactly the n smallest (priority, id) rows per stratum: the rows a
    * `row_number() <= n` window over the same order would draw, with no
    * window and no sort. */
  def ppsSample(docs: DataFrame, idCol: String, stratumCol: String,
                weight: Column, n: Int, salt: String): DataFrame = {
    val u = hash60(concat(lit(s"$salt|"), col(idCol).cast("string")))
      .cast("double") / lit(Sketches.TwoPow60)
    val priority = u / weight.cast("double")
    // weight <= 0 or NULL = zero inclusion probability, i.e. NOT sampled.
    // Without this filter Spark's non-ANSI division turns u/0 into NULL,
    // which sorts FIRST in the ascending priority order — zero-weight
    // docs would fill the sample, the exact inverse of PPS.
    graft.plans.TopK.perKey(
        docs.filter(weight > 0).withColumn("_pps_prio", priority),
        Seq(stratumCol), Seq("_pps_prio" -> false, idCol -> false), n)
      .drop("_pps_prio")
  }

  /** The end of the dedup story: the kept corpus. Every doc except
    * non-canonical cluster members (cluster survivor = min doc_id, per
    * [[dupClusters]]). Anti-join keyed by doc id — at 100 TB the drop
    * list is near-dup-sized (tiny) and broadcasts. */
  def survivors(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val drops = clusters.filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as(idCol))
    docs.join(broadcast(drops), Seq(idCol), "left_anti")
  }

  /** Default SimHash width: 60 bits — the full portable-hash width (15
    * hex chars of MD5 ↔ DuckDB BIGINT-safe). At maxHamming=1 the two
    * pigeonhole segments then carry 30 bits ≈ 10⁹ bucket values each, so
    * bucket sizes stay O(n / 2³⁰) and the candidate equi-join is linear
    * at any corpus size; a 16-bit signature's segments held only 2⁸
    * values and degenerated toward O(n²/256) per segment. */
  val simhashDefaultBits = 60

  /** SimHash signature: per bit b, majority vote of token-hash bit b over
    * all token OCCURRENCES (term frequency = natural weight). Single-pass
    * [[SimHashSig]] kernel — a pure projection (no explode, no per-bit-sum
    * groupBy shuffle), value-identical to the exploded SQL vote form the
    * DuckDB oracle uses (pinned by CorpusSpec). */
  def simhashSig(docs: DataFrame, idCol: String, textCol: String,
                 nBits: Int = simhashDefaultBits): DataFrame =
    fanout(docs)
      .select(col(idCol).as("doc_id"),
        SimHashSig.toColumn(tokens(col(textCol)), nBits).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Pigeonhole segments of the signature: split the `nBits` bits into
    * `maxHamming + 1` disjoint ranges (as even as nBits allows). Any two
    * signatures within Hamming distance `maxHamming` differ in at most
    * `maxHamming` bits, so at least one of the `maxHamming + 1` segments
    * carries zero differing bits — i.e. the pair agrees EXACTLY on that
    * segment. Emitting one (doc_id, seg_idx, seg_bits) row per segment
    * therefore turns the near-dup pair scan into a plain equi-join with a
    * complete candidate set — no cartesian product anywhere. */
  private[corpus] def simhashSegments(sig: DataFrame, maxHamming: Int,
                                      nBits: Int): DataFrame = {
    val nSegs = maxHamming + 1
    require(nSegs >= 1 && nSegs <= nBits,
      s"maxHamming must be in [0, ${nBits - 1}] for a $nBits-bit signature, got $maxHamming")
    // distribute the bits across segments as evenly as possible
    val widths = (0 until nSegs).map(i => nBits / nSegs + (if (i < nBits % nSegs) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _).init
    val segs = (0 until nSegs).map { i =>
      struct(lit(i).as("seg"),
        shiftright(col("simhash"), starts(i))
          .bitwiseAND(lit((1L << widths(i)) - 1)).as("bits"))
    }
    sig.select(col("doc_id"), col("simhash"), explode(array(segs: _*)).as("sb"))
      .select(col("doc_id"), col("simhash"),
        col("sb.seg").as("seg"), col("sb.bits").as("bits"))
  }

  /** SimHash near-dup pairs within maxHamming (bit_count of xor).
    * Candidates come from the pigeonhole segment equi-join — shuffles are
    * keyed by (segment index, segment bits), so cost is linear in corpus
    * size plus the (tiny) same-bucket collision volume, never O(n²). Each
    * candidate is then verified with the exact Hamming distance. A pair
    * can collide in several segments, so candidates are deduplicated
    * before the verify filter. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, nBits: Int = simhashDefaultBits): DataFrame = {
    // the signature table feeds both equi-join sides through a repartition
    // barrier: ReuseExchange computes the token explode + per-bit vote
    // ONCE and replays the exchange for the second branch, with fully
    // recomputable lineage (localCheckpoint would pin executor-local
    // blocks that are unrecoverable after an executor loss)
    val sig = simhashSig(docs, idCol, textCol, nBits).repartition(col("doc_id"))
    hammingPairs(sig, maxHamming, nBits)
  }

  /** Hamming-ball pair scan over ANY (doc_id, simhash) signature frame —
    * the pigeonhole segment equi-join + exact verify shared by the
    * SimHash text path ([[simhashPairs]]) and the multimodal aHash path
    * ([[Multimodal.ahashNearDup]]). Candidates are complete by the
    * pigeonhole argument in [[simhashSegments]]; a pair can collide in
    * several segments, so candidates are deduplicated before the verify
    * filter. */
  def hammingPairs(sig: DataFrame, maxHamming: Int,
                   nBits: Int = simhashDefaultBits): DataFrame = {
    val seg = simhashSegments(sig, maxHamming, nBits)
    seg.as("a").join(seg.as("b"),
        col("a.seg") === col("b.seg") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.simhash").as("sh1"), col("b.simhash").as("sh2"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= maxHamming)
  }

  /** Non-distinct w-token windows, one row per window occurrence —
    * the span-level analogue of [[shinglePostings]] (which is per-doc
    * DISTINCT and therefore blind to within-doc repetition). */
  private def spanWindows(docs: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame =
    fanout(docs).select(col(idCol).as("doc_id"),
      explode(TextAnalysis.kgrams(col(textCol), w)).as("span"))

  /** Substring-level duplication stats (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499):
    * doc-level dedup keeps two docs that merely SHARE a boilerplate
    * paragraph; span-level detection instead marks every w-token window
    * whose exact text recurs anywhere in the corpus (within-doc repeats
    * included — each occurrence of a repeated span counts). Returns one
    * row per doc with ≥ w tokens: window count, repeated-window count,
    * and their ratio — the per-doc mass a span-level deduper would cut.
    *
    * Scale: two span-keyed shuffles, both linear in corpus token count.
    * The occurrence counts are a groupBy (map-side partial agg), and the
    * stats join back onto the window stream is 1:1 per window row — there
    * is no self-join anywhere, so a corpus-wide boilerplate span costs
    * its occurrence count, never occ². The repartition barrier below
    * makes ONE span-keyed exchange feed BOTH consumers (occurrence agg
    * and stats join) through ReuseExchange, so the corpus is tokenized,
    * exploded and shuffled exactly once — with recomputable lineage (the
    * simhashPairs discipline), no checkpoint blocks to lose with an
    * executor. Two subtleties keep the branches canonically identical,
    * which ReuseExchange requires: the agg counts `idCol` (never null ≡
    * count(*)) rather than count(1), else column pruning drops the id
    * from that branch's scan and the subplans no longer match; and the
    * already-partitioned agg runs in-stage, so its exchange disappears
    * (plan-gated in PlanSpec). Residual per-span skew in the stats join
    * is AQE skew-split territory, not a plan defect. */
  def repeatedSpanStats(docs: DataFrame, idCol: String, textCol: String,
                        w: Int): DataFrame = {
    val wins = spanWindows(docs, idCol, textCol, w).repartition(col("span"))
    val stats = wins.groupBy(col("span")).agg(count(col("doc_id")).as("occ"))
    wins.join(stats, Seq("span"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_repeated"))
      .withColumn("dup_ratio",
        round(col("n_repeated").cast("double") /
          col("n_windows").cast("double"), 6))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    * algorithm): hash every k-token gram, slide a w-gram window over the
    * hash sequence, and keep each window's MINIMUM hash. Guarantee: any
    * shared run of ≥ w+k-1 tokens between two docs surfaces as a shared
    * fingerprint, while only ~2/(w+1) of gram hashes are retained — the
    * local, position-robust alternative to "every 0 mod p"-style
    * fingerprint sampling, whose selection shifts under single-token
    * edits. This variant keeps the distinct window-min VALUES per doc:
    * min(hash) is order-independent and tie-free across engines, unlike
    * argmin position selection, whose tie rule is implementation-defined.
    * Docs with fewer than k tokens emit nothing; docs with 1..w-1 grams
    * emit their single global min (one window covering all grams).
    *
    * Scale: one posexplode + one doc-partitioned bounded-frame window
    * (w rows of state per task, streamed in pos order) + distinct — all
    * linear in corpus token count, no self-join. Returns (doc_id, fp). */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = fanout(docs).select(col(idCol).as("doc_id"),
      posexplode(TextAnalysis.kgrams(col(textCol), k)).as(Seq("pos", "gram")))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("h", hash60(col("gram")))
      .withColumn("n_grams",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("wmin", min(col("h")).over(frame))
      // complete windows only: starts 0..n-w (0-based pos); short docs
      // (n < w) keep exactly the pos-0 window over all their grams
      .filter(col("pos") <= greatest(lit(0L), col("n_grams") - w))
      .select(col("doc_id"), col("wmin").as("fp"))
      .distinct()
  }

  /** Corpus snapshot reconciliation: per-doc status between two corpus
    * versions — `added` (only in curr), `removed` (only in prev),
    * `changed` (both, different text), `unchanged`. The release-notes /
    * incremental-rebuild primitive: a corpus that re-ships weekly needs
    * the delta, not a full re-read, and downstream caches (embeddings,
    * tokenized shards) invalidate per changed doc.
    *
    * Scale: both sides reduce to a 16-byte digest projection before the
    * id-keyed FULL OUTER join — one shuffle per side on unique ids (no
    * skew by construction), never a text-width shuffle. */
  def snapshotDiff(prev: DataFrame, curr: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val p = prev.select(col(idCol).as("doc_id"), md5(col(textCol)).as("p_digest"))
    val c = curr.select(col(idCol).as("doc_id"), md5(col(textCol)).as("c_digest"))
    p.join(c, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("p_digest").isNull, lit("added"))
          .when(col("c_digest").isNull, lit("removed"))
          .when(col("p_digest") === col("c_digest"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Corpus-wide boilerplate census: the topN most-repeated w-token spans
    * (total occurrences, distinct docs). The global top-k runs as
    * TakeOrderedAndProject — per-partition heaps of k rows, never a full
    * sort — after one span-keyed aggregation; ties on `occ` break by span
    * text so the cut at topN is deterministic across engines. */
  def boilerplateSpans(docs: DataFrame, idCol: String, textCol: String,
                       w: Int, topN: Int): DataFrame =
    spanWindows(docs, idCol, textCol, w)
      .groupBy(col("span"))
      .agg(count(lit(1)).as("occ"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("occ") >= 2)
      .orderBy(col("occ").desc, col("span"))
      .limit(topN)
}
