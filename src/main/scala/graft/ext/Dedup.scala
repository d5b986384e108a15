package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheScope.ScopedCacheOps
import graft.Tables.load
import graft.functions.TextFunctions._
import graft.functions.Sketches._

/** Deduplication operators over the `documents` table — the core of a
  * training-data pipeline at 100 TB. Five methods, one per fidelity/cost
  * point:
  *
  *  - exact:        hash-groupBy on content (one shuffle of 8-byte keys)
  *  - MinHash+LSH:  shingle → signature → band → bucket-join (near-dup)
  *  - SimHash:      64-bit sketch + pigeonhole bands (near-dup, 8 bytes/doc)
  *  - n-gram Jaccard: prefix-blocked exact Jaccard on token-shingle sets
  *  - embedding:    cosine near-dup via random-hyperplane LSH
  *
  * Scale notes: every method is (scan → per-row sketch → groupBy on a
  * compact key → within-bucket verify). Nothing here is O(n²) in the
  * corpus — candidate generation is always a bucket join; only verified
  * candidate pairs touch the (re-broadcast or re-shuffled) originals.
  * Per-doc summary outputs keep result sizes bounded (no pair blow-up).
  */
object Dedup {

  /** Exact dedup: keep the smallest doc_id per identical text — the
    * hash-first 100 TB shape. Content identity is the 192-bit
    * (xxhash64, md5) pair computed at the scan: the exchange keys on
    * 24 bytes of hash, never the document, and map-side combine leaves
    * at most ONE text per content group per input partition in the
    * partial-aggregate buffers (min_by carries the survivor candidate)
    * — an n-fold-duplicated document ships min(n, #partitions) copies
    * instead of n. One shuffle total. Two distinct texts colliding in
    * BOTH hashes (p ≈ 2^-192 per pair) is the accepted exactness
    * bound — the same identity contract content-addressable stores
    * use. */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(xxhash64(col("text")).as("h1"), md5(col("text")).as("h2"),
              col("doc_id"), col("n_chars"), col("text"))
      .groupBy("h1", "h2")
      .agg(min(col("doc_id")).as("doc_id"), min(col("n_chars")).as("n_chars"),
           min_by(col("text"), col("doc_id")).as("text"))
      .select(col("doc_id"), col("n_chars"), col("text"))
      .orderBy("doc_id")

  /** Exact-dedup survivor count by content hash — the 100 TB shape:
    * the full text never shuffles, only (hash, min_id). */
  def exactDedupStats(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    docs.agg(count(lit(1)).as("n_docs"),
             count_distinct(col("text")).as("n_distinct_texts"))
  }

  /** HyperLogLog++ dedup survey: per-source approximate distinct texts
    * at 1% target error. At 100 TB this replaces the exact
    * count-distinct's full shuffle of text hashes with fixed-size
    * mergeable sketches — the right first pass before an exact dedup.
    * ESTIMATE-ONLY production path; the gate query is the audited
    * variant below ([[approxDedupStats]]). */
  def approxDistinctEstimates(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           approx_count_distinct(col("text"), rsd = 0.01).as("approx_distinct_texts"))
      .orderBy("source")

  /** x26: HLL++ accuracy audit — the trust gate every approximate
    * sketch needs (the same pattern as x90's recall@k audit of the LSH
    * index). Emits, per source, the exact distinct count next to a
    * boolean asserting the HLL++ estimate landed within 5% of it. The
    * HLL register layout is engine-specific, so the raw estimate can
    * never be hash-checked cross-engine; the AUDIT is exactly
    * replayable (DuckDB recomputes the exact side and expects TRUE),
    * which puts the whole capability under the full three-check gate
    * instead of a rows-only pass. Costs one exact count-distinct pass
    * by design — this is the periodic trust query, not the production
    * survey ([[approxDistinctEstimates]] is estimate-only).
    * ApproxDedupSpec bounds the raw estimates separately. */
  def approxDedupStats(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           count_distinct(col("text")).as("exact_distinct"),
           approx_count_distinct(col("text"), rsd = 0.01).as("hll_est"))
      .select(col("source"), col("n_docs"), col("exact_distinct"),
        (abs(col("hll_est") - col("exact_distinct")) <=
          col("exact_distinct") * lit(0.05)).as("hll_within_5pct"))
      .orderBy("source")

  private val KmvK = 16

  /** KMV (k-minimum-values) approximate distinct count per source — the
    * ENGINE-PORTABLE sketch next to HLL++ (x26): keep the k smallest
    * portable content hashes per group; with the hash space normalized
    * to [0, 1), E[distinct] ≈ (k−1)/h_k. Unlike HLL (whose register
    * layout is implementation-specific), the estimate is a pure
    * function of the k-th smallest md5-prefix hash, so DuckDB
    * recomputes it EXACTLY — an approximate algorithm under an exact
    * correctness gate. Groups with fewer than k distinct values report
    * the exact count (the sketch holds them all — standard KMV).
    * Mergeable: min-k of a union = min-k of the merged min-k sets, the
    * property that lets 1000 executors sketch independently — realized
    * here with the bounded-heap TopK AGGREGATE (map-side partials carry
    * ≤ k hashes per group per partition), not a per-source row_number
    * window, which would sort each source's whole hash stream on one
    * task. Exactness trick: the heap ranks by a constant sort key and
    * breaks ties on the ZERO-PADDED HEX of the hash — lexicographic on
    * fixed-width hex ≡ numeric on the 60-bit value, with no double
    * rounding (the heap's Double sort key can't hold 60 bits). */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val h = load(s, dir, "documents")
      .select(col("source"),
        graft.functions.VectorExpressions.md5Prefix60(col("text")).as("hv"))
      .distinct()
    graft.functions.TopKAgg.topKPerKey(
        h.withColumn("hx", format_string("%015x", col("hv"))),
        Seq("source"), lit(0.0), col("hx"), KmvK)
      .groupBy("source")
      .agg(count(lit(1)).as("m"),
           max(get_json_object(col("entry_json"), "$.hv").cast("long")).as("hk"))
      .select(col("source"),
        when(col("m") < KmvK, col("m").cast("double"))
          .otherwise(round(
            lit((KmvK - 1).toDouble * math.pow(2, 60)) / col("hk").cast("double"), 2))
          .as("est_distinct"))
      .orderBy("source")
  }

  private val CmsRows = 4
  private val CmsWidth = 1024L

  /** Count-Min sketch heavy-hitter estimation over the token stream —
    * the fixed-memory frequency sketch (d=4 rows × w=1024 counters)
    * that answers "how often does this token occur" without keeping
    * the full vocabulary: est(t) = min over rows of counter[r][h_r(t)],
    * never an underestimate, over by at most the collision mass. Like
    * x76, the row hashes are portable md5 arithmetic (4 disjoint 8-hex
    * windows of one digest), so the DuckDB oracle rebuilds the ENTIRE
    * sketch and the exact same estimates — an approximate structure
    * under an exact gate. Probes are the top-20 exact tokens
    * (deterministic tie-break) so the output also shows the estimation
    * error directly. At 100 TB the counter build is one
    * map-side-combined aggregate over (row, cell) — 4096 cells total,
    * mergeable across any sharding. */
  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    // aggregate to term frequencies FIRST: the sketch ingests the
    // (vocab-sized) tf frame with weighted counts, so hashing cost is
    // per distinct token, not per occurrence — and all 4 row-hashes
    // carve disjoint 8-hex windows out of ONE md5 digest
    val cellExpr = // h_r(token) = hex window r of md5(token), mod width
      s"CAST(conv(substr(md5(token), r * 8 + 1, 8), 16, 10) AS BIGINT) % $CmsWidth"
    val tf = load(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("exact_n"))
      .scopedCache()
    val probes = tf.orderBy(desc("exact_n"), col("token")).limit(20)
    val counters = tf
      .select(col("token"), col("exact_n"),
        explode(sequence(lit(0), lit(CmsRows - 1))).as("r"))
      .withColumn("c", expr(cellExpr))
      .groupBy("r", "c").agg(sum("exact_n").as("cnt"))
    probes
      .select(col("token"), col("exact_n"),
        explode(sequence(lit(0), lit(CmsRows - 1))).as("r"))
      .withColumn("c", expr(cellExpr))
      .join(counters, Seq("r", "c"))
      .groupBy("token", "exact_n").agg(min("cnt").as("est_n"))
      .orderBy("token")
  }

  /** Cross-source content-overlap matrix: for every source pair (a < b),
    * the number of distinct word 8-grams both contain and the gram-set
    * Jaccard — the "which crawls overlap, and how much" audit that
    * decides dedup ordering and source pruning.
    *
    * Shape: ONE gram-keyed aggregation (partial collect_set bounds
    * map-side state to ≤ S sources per gram), then a single explode
    * emits, per gram, one row per member source (for per-source totals)
    * and one per ordered source pair (for shared counts) — so one pass
    * over the documents produces BOTH aggregates and nothing upstream
    * needs caching. The earlier distinct + gram-keyed self-join shape
    * shuffled the full gram set three times and re-hashed the shingles
    * on both join branches whenever the cache raced the two scans
    * (the round-3 x50 regression). Pair fan-out is ≤ C(S,2) per gram
    * (S = 5 here; with thousands of sources cap `size(srcs)` like
    * x43's df-cap). The aggregation keys on a salted-xxhash64 pair of
    * the gram, not the ~50-byte string (the x98 hash-first rule — the
    * gram is a pure key, never output, and the oracle rebuilds the
    * same source sets from the strings; agreement is the standard
    * 128-bit injectivity bet). */
  def crossSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val bySrc = load(s, dir, "documents")
      .select(col("source"),
        explode(graft.functions.TextExpressions.wordShingleStrings(col("text"), 8)).as("gram"))
      .groupBy(xxhash64(col("gram")).as("g1"), xxhash64(col("gram"), lit(1L)).as("g2"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    val tagged = bySrc.select(explode(expr(
        """concat(
             transform(srcs, x -> named_struct('sa', x, 'sb', CAST(NULL AS STRING))),
             flatten(transform(srcs, (x, i) ->
               transform(slice(srcs, i + 2, size(srcs)), y -> named_struct('sa', x, 'sb', y)))))"""))
        .as("p"))
      .select(col("p.sa").as("sa"), col("p.sb").as("sb"))
    // ≤ S + C(S,2) rows; cached so the totals/shared branches and the two
    // broadcasts below share one computation of the full aggregate
    val agg = tagged.groupBy("sa", "sb").agg(count(lit(1)).as("n")).scopedCache()
    val counts = agg.filter(col("sb").isNull).select(col("sa").as("source"), col("n"))
    val shared = agg.filter(col("sb").isNotNull)
      .select(col("sa").as("source_a"), col("sb").as("source_b"), col("n").as("n_shared"))
    shared
      .join(broadcast(counts.select(col("source").as("source_a"), col("n").as("n_grams_a"))), Seq("source_a"))
      .join(broadcast(counts.select(col("source").as("source_b"), col("n").as("n_grams_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_grams_a"), col("n_grams_b"),
        (col("n_shared").cast("double") /
          (col("n_grams_a") + col("n_grams_b") - col("n_shared")).cast("double")).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Normalized ("fuzzy-exact") dedup: dedup after canonicalizing the
    * text — lowercase, trim, collapse whitespace runs — the standard
    * first-pass normalization that catches re-encoded/re-wrapped copies
    * exact dedup misses, at exact-dedup cost. Same hash-first shape as
    * x01: the normalized form is hashed at the scan and only the
    * 192-bit key + doc_id ride the shuffle. Output: one surviving
    * doc_id per normalized equivalence class with its variant count. */
  def normalizedDedup(s: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    load(s, dir, "documents")
      .select(xxhash64(norm).as("h1"), md5(norm).as("h2"), col("doc_id"))
      .groupBy("h1", "h2")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_variants"))
      .select(col("doc_id"), col("n_variants"))
      .orderBy("doc_id")
  }

  /** Incremental ingest dedup — the operational shape at 100 TB: a new
    * batch dedups against the standing corpus WITHOUT re-reading it as
    * text, because the standing side is only its content-key set (the
    * state a daily ingest keeps between runs). Here the corpus split is
    * a deterministic stand-in (even doc_ids = already ingested, odd =
    * today's batch). Within-batch dups collapse first (min doc_id
    * wins), then an anti-join against the snapshot keys drops
    * everything already seen. All joins ride the 192-bit content key. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val keyed = load(s, dir, "documents")
      .select(xxhash64(col("text")).as("h1"), md5(col("text")).as("h2"), col("doc_id"))
    val snapshotKeys = keyed.filter(col("doc_id") % 2 === 0).select("h1", "h2").distinct()
    val batch = keyed.filter(col("doc_id") % 2 === 1)
      .groupBy("h1", "h2")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_batch_copies"))
    batch.join(snapshotKeys, Seq("h1", "h2"), "left_anti")
      .select(col("doc_id"), col("n_batch_copies"))
      .orderBy("doc_id")
  }

  private val MinhashK = 64
  private val Bands = 16
  private val RowsPerBand = 4 // s-curve threshold ≈ (1/16)^(1/4) ≈ 0.5
  private[ext] val MinhashTau = 0.5
  private val NgramTau = 0.6
  private val CosineTau = 0.95

  /** MinHash+LSH near-duplicate detection (word 3-gram shingles,
    * 64-slot signatures, 16×4 banding, Jaccard ≥ 0.5 verify).
    * Output: one row per document with its candidate and verified
    * near-dup counts — bounded regardless of cluster sizes.
    *
    * Every stochastic ingredient is ENGINE-PORTABLE so the DuckDB
    * oracle rebuilds the identical result end-to-end: gram hashes are
    * md5-prefix 60-bit ints, the affine signature family is plain
    * integer arithmetic with literal coefficients, and band keys are
    * md5 over the decimal-joined slots. A deployment that doesn't need
    * external verification swaps shingle/band hashing back to xxhash64
    * in two lines — the plan shape is hash-agnostic.
    *
    * Same two-layer skew defense as the other three near-dup operators
    * (identical shingle SETS — where every pair trivially verifies at
    * Jaccard 1 — are counted arithmetically per group in O(n), and the
    * band self-join skips buckets above [[SimhashBucketCap]]): an
    * n-fold-duplicated page otherwise puts n identical signatures in
    * every band bucket and the join goes quadratic on exactly the
    * corpora dedup exists for. */
  /** Shared MinHash candidate machinery: the cached sketched docs
    * (doc_id, shingles, setkey) and the capped-LSH candidate pairs with
    * their EXACT jaccard — the frame both the near-dup summary (x03)
    * and the threshold sweep (x106) consume, factored so the two
    * queries (and their two oracles, via minhashPairsSql) cannot
    * drift. */
  private[ext] def minhashCandidates(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // cache the sketched docs: the self-join + two verify joins below
    // would otherwise recompute the (expensive) shingle+minhash lineage
    // up to 4×. At cluster scale this is persist(MEMORY_AND_DISK) on a
    // frame of (id, hashes) — tiny next to the raw text.
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), shingleHashes(col("text"), 3).as("shingles"))
      .withColumn("setkey", xxhash64(array_sort(col("shingles"))))
      .scopedCache()
    val sigs = docs.select(col("doc_id"), col("setkey"), col("shingles"),
      minhashSignature(col("shingles"), MinhashK).as("sig"))

    // high-cardinality band-key domain → window count shares the
    // exchange the self-join needs anyway (the broadcast agg-join wins
    // only for tiny key domains — see simhash vs jaccard in PERF.md).
    // The SIZED frame is what gets cached: the cap filter and the
    // cap-loss report both read it, so bucket sizes compute once.
    val sized = sigs.select(col("doc_id"), col("setkey"),
        explode(portableBandKeys(col("sig"), Bands, RowsPerBand)).as("bk"))
      .select(col("doc_id"), col("setkey"), col("bk.band").as("band"), col("bk.key").as("key"))
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "key")))
      .scopedCache()
    val cold = sized.filter(col("bsz") <= SimhashBucketCap)
    reportCapLoss("minhash LSH",
      sized.filter(col("bsz") > SimhashBucketCap)
        .groupBy("band", "key").agg(first(col("bsz")).as("bsz")))

    // candidate pairs: same (band, key) bucket, ordered ids, distinct
    // shingle sets (identical sets were counted arithmetically), de-duped
    val a = cold.alias("a")
    val b = cold.alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id") && col("a.setkey") =!= col("b.setkey"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()

    // exact Jaccard on the shingle sets
    val withJaccard = pairs
      .join(docs.select(col("doc_id").as("id1"), col("shingles").as("sh1")), "id1")
      .join(docs.select(col("doc_id").as("id2"), col("shingles").as("sh2")), "id2")
      .withColumn("jaccard", jaccardLong(col("sh1"), col("sh2")))
    (docs, withJaccard)
  }

  /** Incremental NEAR-dup screening: the new batch (odd doc_ids — the
    * x55 incremental convention) checked against the accepted snapshot
    * (even ids) through the SHARED x03 candidate machinery — the
    * continuous-ingestion question "is this incoming document a
    * near-copy of anything we already accepted", answered without an
    * all-pairs pass. Only cross-side (batch × snapshot) candidate
    * pairs count; batch-internal near-dups are the next snapshot's
    * problem (and x03's job). Identical shingle SETS across the side
    * line (excluded from LSH candidates by design and counted
    * arithmetically, like x03's n_same) join on the set key. At
    * production scale the snapshot's band table is a persisted index
    * the batch's bands probe; here both sides derive from one corpus
    * scan, which keeps the oracle exact while the plan shape — banded
    * bucket join, never batch × snapshot — is the deployed one.
    * Output per batch doc: snapshot candidates and verified snapshot
    * near-dups (exact Jaccard ≥ τ, or identical set). */
  def incrementalNearDups(s: SparkSession, dir: String): DataFrame = {
    val (docs, withJaccard) = minhashCandidates(s, dir)
    val cross = withJaccard.filter(col("id1") % 2 =!= col("id2") % 2)
      .withColumn("batch_id",
        when(col("id1") % 2 === 1, col("id1")).otherwise(col("id2")))
    val cand = cross.groupBy(col("batch_id").as("doc_id"))
      .agg(count(lit(1)).as("n_cand"))
    val near = cross.filter(col("jaccard") >= MinhashTau)
      .groupBy(col("batch_id").as("doc_id"))
      .agg(count(lit(1)).as("n_near"))
    val snapSets = docs.filter(col("doc_id") % 2 === 0)
      .groupBy("setkey").agg(count(lit(1)).as("n_same_snap"))
    docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("setkey"))
      .join(snapSets, Seq("setkey"), "left")
      .join(cand, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("n_cand"), lit(0L)) + coalesce(col("n_same_snap"), lit(0L)))
          .as("n_candidates"),
        (coalesce(col("n_near"), lit(0L)) + coalesce(col("n_same_snap"), lit(0L)))
          .as("n_near_dups"))
      .orderBy("doc_id")
  }

  /** ScaleCheck mass axis for the minhash_candidates family
    * (x03/x106/x124/x159): the capped-LSH candidate-pair count out of
    * the SHARED [[minhashCandidates]] machinery — the work mass every
    * family member's runtime must track. */
  def minhashCandidateMass(s: SparkSession, dir: String): Long =
    minhashCandidates(s, dir)._2.count()

  def minhashNearDups(s: SparkSession, dir: String): DataFrame = {
    val (docs, withJaccard) = minhashCandidates(s, dir)
    val sameSet = docs.groupBy("setkey").agg(count(lit(1)).as("g"))
    val sameCounts = docs.join(sameSet, "setkey")
      .select(col("doc_id"), (col("g") - 1).cast("long").as("n_same"))
    val pairs = withJaccard.select("id1", "id2")
    val verified = withJaccard.filter(col("jaccard") >= MinhashTau)

    val base = perDocSummary(load(s, dir, "documents"),
      pairs, verified.select("id1", "id2"))
    base.join(sameCounts, Seq("doc_id"))
      .select(col("doc_id"),
        (col("n_candidates") + col("n_same")).as("n_candidates"),
        (col("n_near_dups") + col("n_same")).as("n_near_dups"))
      .orderBy("doc_id")
  }

  /** x106: dedup threshold tuning — the exact-jaccard distribution of
    * the LSH candidate pairs in 0.05-wide bins. Moving τ across this
    * histogram is choosing how many of these pairs count as duplicates;
    * running the sweep BEFORE committing a threshold is how the τ=0.8
    * default gets justified (or revised) on a new corpus. Same capped
    * candidate generation as x03 — only the final aggregation differs. */
  def minhashThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val (_, withJaccard) = minhashCandidates(s, dir)
    withJaccard
      .withColumn("bin", floor(col("jaccard") * 20).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("tau_lo", col("bin") / 20.0)
      .select(col("bin"), col("tau_lo"), col("n_pairs"))
      .orderBy("bin")
  }

  /** Sample size for the x112 recall audit: the 256 documents with the
    * smallest u32(doc_id) — FIXED-SIZE, not fixed-rate, because the
    * audit's all-pairs ground truth is n²/2 on the sample and a
    * percentage sample re-creates the quadratic cost the audit exists
    * to police (ScaleCheck measured the 20%-rate form at 19.9× cost for
    * 10× docs; a constant sample is ~1×). A recall ESTIMATE does not
    * need to grow with the corpus — only its confidence interval does,
    * and that is a knob, not a rate. Hash-ordered top-k keeps selection
    * deterministic and plan-cheap (TakeOrdered, never a global sort). */
  private val RecallSampleSize = 256

  /** x112: LSH recall audit — the trust gate the lexical near-dup
    * family needs, exactly as x90 is for the ANN index: on a
    * deterministic fixed-size document sample, compute the EXACT
    * all-pairs ground truth (every pair at jaccard ≥ τ) and measure
    * what fraction
    * the capped LSH pipeline (x03's identical machinery via
    * [[minhashCandidates]]) actually surfaces. Banding tuning (x106
    * picks τ) and the hot-bucket cap both trade recall for cost; this
    * measures what they traded, per corpus, in integer ppm.
    *
    * Identical-shingle-set pairs count as found by construction —
    * x03's O(n) same-set path surfaces them without the band join, so
    * only DISTINCT-set pairs test the LSH itself.
    *
    * Scale shape: the ground truth is all-pairs ON THE FIXED-SIZE
    * SAMPLE ONLY — the sample side broadcasts (BroadcastNestedLoopJoin,
    * the x90 brute-force shape), the corpus never self-joins uncapped.
    * The audit rides the same cached sketch frame as x03, so the
    * marginal cost is the constant sample pair scan plus one tiny left
    * join. */
  def minhashRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val (docs, withJaccard) = minhashCandidates(s, dir)
    val samp = docs
      .withColumn("__h", graft.ext.Sampling.u32(col("doc_id")))
      .orderBy(col("__h"), col("doc_id")).limit(RecallSampleSize)
    val ta = samp.select(col("doc_id").as("id1"),
      col("shingles").as("sh1"), col("setkey").as("sk1"))
    val tb = samp.select(col("doc_id").as("id2"),
      col("shingles").as("sh2"), col("setkey").as("sk2"))
    val truth = tb.join(broadcast(ta), col("id1") < col("id2"))
      .withColumn("j", jaccardLong(col("sh1"), col("sh2")))
      .filter(col("j") >= MinhashTau)
    val found = withJaccard.filter(col("jaccard") >= MinhashTau)
      .select(col("id1"), col("id2"), lit(1).as("lsh_hit"))
    val hits = truth.join(found, Seq("id1", "id2"), "left")
      .withColumn("hit",
        when(col("sk1") === col("sk2") || col("lsh_hit").isNotNull, 1L)
          .otherwise(0L))
    hits.agg(count(lit(1)).as("n_true_pairs"),
        coalesce(sum("hit"), lit(0L)).as("n_found_pairs"))
      .crossJoin(broadcast(samp.agg(count(lit(1)).as("n_sample_docs"))))
      .withColumn("recall_ppm",
        expr("(n_found_pairs * 1000000) div greatest(n_true_pairs, 1)"))
      .select(col("n_sample_docs"), col("n_true_pairs"),
        col("n_found_pairs"), col("recall_ppm"))
  }

  /** Pair-generation buckets larger than this are dropped: a 16-bit
    * band value shared by hundreds of documents is not discriminative
    * evidence of similarity, just signature clustering — and its m²/2
    * pairs are what turns band join cost quadratic on self-similar
    * corpora (measured: 424k candidate pairs from 5k word-soup docs
    * uncapped, hot buckets of 400+). */
  private val SimhashBucketCap = 64

  /** No silent caps: every near-dup operator that drops hot buckets
    * reports HOW MUCH it dropped, so the (unbounded, otherwise
    * invisible) recall loss shows up in the run log instead of quietly
    * shrinking n_near_dups. The check is DEFERRED: builders only
    * register the one-row hot-bucket aggregate here, and the harness
    * pulls it via [[drainCapLossReports]] AFTER executing the query —
    * constructing a plan (for explain / PlanSpec / bench) must never run
    * a Spark job, and bench timings must measure only the returned plan.
    * Keyed by operator so re-building a query replaces, not accumulates,
    * its pending check. Identical-content duplicates are never affected
    * by the cap (they are counted arithmetically before it). */
  private val pendingCapChecks =
    new scala.collection.concurrent.TrieMap[String, DataFrame]()

  private def reportCapLoss(op: String, bucketSizes: DataFrame): Unit =
    pendingCapChecks.put(op,
      bucketSizes.filter(col("bsz") > SimhashBucketCap)
        .agg(coalesce(count(lit(1)), lit(0L)).as("buckets"),
             coalesce(sum(col("bsz")), lit(0L)).as("rows")))

  /** Runs every pending cap-loss check (one tiny aggregate each — the
    * lineage is cached by the owning query, so this reuses its work when
    * drained right after execution), prints any non-zero loss to stderr,
    * clears the registry, and returns the messages for spec assertions. */
  def drainCapLossReports(): Seq[String] = {
    val msgs = pendingCapChecks.toSeq.sortBy(_._1).flatMap { case (op, agg) =>
      pendingCapChecks.remove(op)
      val hot = agg.collect()(0)
      if (hot.getLong(0) > 0) {
        val msg = s"[dedup] $op: bucket cap $SimhashBucketCap skipped " +
          s"${hot.getLong(0)} hot buckets (${hot.getLong(1)} bucketed rows) in pair " +
          "generation; identical-content dups still counted exactly"
        System.err.println(msg)
        Some(msg)
      } else None
    }
    msgs
  }

  /** SimHash near-duplicate detection: 60-bit portable sketch, 4×15-bit
    * pigeonhole bands (a pair with Hamming ≤ 3 matches at least one
    * band exactly), Hamming verify. The cheapest sketch: 8 bytes/doc.
    *
    * Skew defense, in two layers (the difference between this running
    * at 100 TB and dying on the first self-similar crawl slice):
    * identical signatures — the degenerate clusters where every pair is
    * a near-dup — are counted arithmetically per group (each member has
    * g−1 partners; O(n), no pairs materialized); and the band self-join
    * only runs inside buckets ≤ [[SimhashBucketCap]]. Recall caveat:
    * a Hamming 1-3 pair whose every matching band falls in a hot bucket
    * is missed — the price of bounded work; identical-signature dups
    * are always counted. */
  def simhashNearDups(s: SparkSession, dir: String): DataFrame = {
    // portable 60-bit simhash (md5-prefix token hashes, 4×15-bit bands):
    // the whole pipeline is shift/mask/bit_count arithmetic the DuckDB
    // oracle reproduces verbatim
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), simhashPortable(tokens(col("text"))).as("sim"))
      .scopedCache()

    // degenerate identical-signature groups, counted without pairs
    val sameSim = docs.groupBy("sim").agg(count(lit(1)).as("g"))
    val sameCounts = docs.join(sameSim, "sim")
      .select(col("doc_id"), (col("g") - 1).cast("long").as("n_same"))

    val bandedS = docs.select(col("doc_id"), col("sim"),
        explode(simhashPortableBandKeys(col("sim"))).as("bk"))
      .select(col("doc_id"), col("sim"), col("bk.band").as("band"), col("bk.key").as("key"))
    // bucket sizes as a separate aggregate, joined back: the 15-bit band
    // key domain is tiny (≤ 4·32768), so the size table broadcasts and
    // banded itself never shuffles before the pair join. (A window count
    // would force an exchange of banded — measured consistently slower
    // here; the window form wins only for high-cardinality 64-bit block
    // keys, see ngramJaccardNearDups.)
    val sizes = bandedS.groupBy("band", "key").agg(count(lit(1)).as("bsz"))
    reportCapLoss("simhash", sizes)
    val coldBuckets = sizes.filter(col("bsz") <= SimhashBucketCap)
    val cold = bandedS.join(broadcast(coldBuckets.select("band", "key")), Seq("band", "key"))

    val a = cold.alias("a")
    val b = cold.alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id") && col("a.sim") =!= col("b.sim"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
              col("a.sim").as("sim1"), col("b.sim").as("sim2"))
      .distinct()
      .withColumn("hamming", hamming64(col("sim1"), col("sim2")))
    val verified = pairs.filter(col("hamming") <= 3)

    val base = perDocSummary(load(s, dir, "documents"),
      pairs.select("id1", "id2"), verified.select("id1", "id2"))
    base.join(sameCounts, Seq("doc_id"))
      .select(col("doc_id"),
        (col("n_candidates") + col("n_same")).as("n_candidates"),
        (col("n_near_dups") + col("n_same")).as("n_near_dups"))
      .orderBy("doc_id")
  }

  /** n-gram Jaccard near-dup with prefix blocking: block key = hash of
    * the 4 smallest token-hashes (documents sharing a block share rare
    * tokens), exact Jaccard ≥ 0.6 on distinct token 2-gram sets within
    * blocks. Prefix filtering keeps candidate generation a bucket join.
    *
    * Same skew defense as [[simhashNearDups]]: identical gram SETS
    * (Jaccard exactly 1.0 — the degenerate clusters) are counted per
    * group in O(n); the block self-join only runs inside blocks ≤
    * [[SimhashBucketCap]], so one over-shared prefix can't go
    * quadratic. */
  def ngramJaccardNearDups(s: SparkSession, dir: String): DataFrame = {
    // portable hashing throughout (md5-prefix gram ints; block key =
    // md5 of the 4 smallest, decimal-joined) so the DuckDB oracle
    // rebuilds blocking and verification exactly
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), shingleHashes(col("text"), 2).as("grams"))
      .withColumn("setkey", xxhash64(array_sort(col("grams"))))
      .withColumn("block", md5(concat_ws(",",
        transform(slice(array_sort(col("grams")), 1, 4), x => x.cast("string")))))
      .scopedCache()

    val sameSet = docs.groupBy("setkey").agg(count(lit(1)).as("g"))
    val sameCounts = docs.join(sameSet, "setkey")
      .select(col("doc_id"), (col("g") - 1).cast("long").as("n_same"))

    val cold = docs
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("block")))
      .filter(col("bsz") <= SimhashBucketCap)
    reportCapLoss("ngram-jaccard",
      docs.groupBy("block").agg(count(lit(1)).as("bsz")))

    val a = cold.alias("a")
    val b = cold.alias("b")
    val pairs = a.join(b,
        col("a.block") === col("b.block") && col("a.doc_id") < col("b.doc_id") &&
          col("a.setkey") =!= col("b.setkey"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
              jaccardLong(col("a.grams"), col("b.grams")).as("jaccard"))

    val verified = pairs.filter(col("jaccard") >= NgramTau)
    val base = perDocSummary(load(s, dir, "documents"),
      pairs.select("id1", "id2"), verified.select("id1", "id2"))
    base.join(sameCounts, Seq("doc_id"))
      .select(col("doc_id"),
        (col("n_candidates") + col("n_same")).as("n_candidates"),
        (col("n_near_dups") + col("n_same")).as("n_near_dups"))
      .orderBy("doc_id")
  }

  private val Planes = hyperplanes(nBits = 64, dim = 64)
  private val EmbBands = 8
  private val BitsPerBand = 8

  /** Embedding-cosine near-dup: random-hyperplane signatures, 8×8-bit
    * bands, exact cosine ≥ 0.95 verify within buckets.
    *
    * Skew defense: identical VECTORS (cosine exactly 1 — repeated
    * default/zero-ish embeddings are common in real corpora) are
    * counted per group in O(n) via a content key, and pair generation
    * skips band buckets larger than [[SimhashBucketCap]]. Unlike
    * simhash, an identical band key does NOT prove similarity, so only
    * byte-identical vectors get the arithmetic shortcut; everything
    * else still passes the exact-cosine verify. Scaling rule for the
    * band width: 8-bit bands give 256 buckets — the n²/buckets join
    * term wants bitsPerBand to grow with log2(n) (or switch to the IVF
    * path, topKIvf, whose list count scales the same way). */
  def embeddingNearDups(s: SparkSession, dir: String): DataFrame = {
    val embs = load(s, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), toDouble(col("embedding")).as("v"))
      .withColumn("bits", hyperplaneBits(col("v"), Planes))
      .withColumn("veckey", xxhash64(col("v")))
      .scopedCache()

    val sameVec = embs.groupBy("veckey").agg(count(lit(1)).as("g"))
    val sameCounts = embs.join(sameVec, "veckey")
      .select(col("doc_id"), (col("g") - 1).cast("long").as("n_same"))

    val banded = embs.select(col("doc_id"), col("veckey"),
        explode(bitBandStringKeys(col("bits"), EmbBands, BitsPerBand)).as("bk"))
      .select(col("doc_id"), col("veckey"), col("bk.band").as("band"), col("bk.key").as("key"))
    // bucket sizes as a broadcast agg-join, same rule as simhash: the
    // key domain is 8 bands × 2^8 keys = 2,048 values, so the size table
    // is tiny and banded itself never exchanges before the pair join.
    // (The previous window count forced a full shuffle of the banded
    // frame on a 2k-value key — the slowest query of round 1 at 9.3 s.)
    val embSizes = banded.groupBy("band", "key").agg(count(lit(1)).as("bsz"))
    reportCapLoss("embedding LSH", embSizes)
    val coldBuckets = embSizes.filter(col("bsz") <= SimhashBucketCap)
    val cold = banded.join(broadcast(coldBuckets.select("band", "key")), Seq("band", "key"))

    val a = cold.alias("a")
    val b = cold.alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id") && col("a.veckey") =!= col("b.veckey"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()

    val withVecs = pairs
      .join(embs.select(col("doc_id").as("id1"), col("v").as("v1")), "id1")
      .join(embs.select(col("doc_id").as("id2"), col("v").as("v2")), "id2")
      .withColumn("cos", cosine(col("v1"), col("v2")))
    val verified = withVecs.filter(col("cos") >= CosineTau)

    val base = perDocSummary(
      load(s, dir, "embeddings").select(col("vec_id").as("doc_id")),
      pairs, verified.select("id1", "id2"))
    base.join(sameCounts, Seq("doc_id"))
      .select(col("doc_id"),
        (col("n_candidates") + col("n_same")).as("n_candidates"),
        (col("n_near_dups") + col("n_same")).as("n_near_dups"))
      .orderBy("doc_id")
  }

  /** One row per source document: candidate-pair count and verified
    * near-dup count (0 for documents with no matches). */
  private def perDocSummary(all: DataFrame, pairs: DataFrame, verified: DataFrame): DataFrame = {
    def sideCounts(p: DataFrame, name: String) =
      p.select(col("id1").as("doc_id"))
        .union(p.select(col("id2").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as(name))
    all.select(col("doc_id"))
      .join(sideCounts(pairs, "n_candidates"), Seq("doc_id"), "left")
      .join(sideCounts(verified, "n_near_dups"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_candidates", "n_near_dups"))
      .orderBy("doc_id")
  }

  /** Cross-document duplicated-SPAN mass — the span-level counterpart of
    * doc-level dedup (x01/x03): what fraction of each source's token
    * mass sits inside a word 8-gram that also appears in at least one
    * OTHER document. Doc-level dedup misses boilerplate that rides
    * inside otherwise-distinct pages (headers, license blocks, templated
    * paragraphs); this is the audit that says how much of the corpus a
    * span-level pass (Lee et al.-style substring dedup) would touch, per
    * source, before committing to the expensive rewrite.
    *
    * Shape (reference: main.py has no span analytics — extension op):
    * scan → per-row positional shingles (compiled expression) → md5-
    * prefix 60-bit gram key at the scan, so every exchange carries
    * (8-byte key, ids), never gram text → ONE (doc,gram)-keyed count
    * aggregate (map-side combinable; also the distinct-set frame) →
    * gram-keyed doc-frequency aggregate over it → gram-keyed join back
    * (AQE-skew-splittable; a window over the gram partition would put
    * every occurrence of a boilerplate gram on one task) → doc rollup →
    * source rollup. All counts integer; ppm via integer div — exact in
    * any engine. 60-bit collision across ~1e6 distinct grams at sf0.1:
    * p ≈ 4e-7, the same portability trade x03/x04 document.
    *
    * The (doc,gram) aggregate feeds TWO consumers (doc-frequency and
    * the join probe), so its shingle lineage runs twice — caching it
    * was measured SLOWER on the 10× rig (t10 3.99 s cached vs 3.46 s
    * recomputed: materializing the widest frame costs more than a
    * second scan-speed pass). At cluster scale the same logic applies
    * while the re-scan stays CPU-bound; flip to .persist(DISK_ONLY)
    * only when input IO, not CPU, is the measured bottleneck. */
  def spanDedupAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextExpressions.wordShinglePositional
    val perDocGram = load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(wordShinglePositional(col("text"), 8)).as("sh"))
      .select(col("doc_id"), col("source"),
        graft.functions.VectorExpressions.md5Prefix60(col("sh.gram")).as("g"))
      .groupBy("doc_id", "source", "g").agg(count(lit(1)).as("c"))
    val docFreq = perDocGram.groupBy("g").agg(count(lit(1)).as("ndocs"))
    val perDoc = perDocGram.join(docFreq, Seq("g"))
      .groupBy("doc_id", "source")
      .agg(sum("c").as("n_spans"),
           coalesce(sum(when(col("ndocs") >= 2, col("c"))), lit(0L)).as("dup_spans"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_spans").cast("long").as("total_spans"),
           sum("dup_spans").cast("long").as("dup_spans"),
           expr("sum(dup_spans) * 1000000L div sum(n_spans)").as("dup_span_ppm"),
           sum(when(col("dup_spans") * 2 >= col("n_spans"), 1L).otherwise(0L))
             .cast("long").as("n_docs_flagged"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x124_dedup_incremental_near" -> incrementalNearDups,
    "x115_span_dedup" -> spanDedupAudit,
    "x01_dedup_exact" -> exactDedup,
    "x02_dedup_stats" -> exactDedupStats,
    "x26_dedup_approx_stats" -> approxDedupStats,
    "x03_dedup_minhash" -> minhashNearDups,
    "x106_minhash_threshold_sweep" -> minhashThresholdSweep,
    "x112_dedup_recall_audit" -> minhashRecallAudit,
    "x04_dedup_simhash" -> simhashNearDups,
    "x05_dedup_ngram_jaccard" -> ngramJaccardNearDups,
    "x06_dedup_embedding" -> embeddingNearDups,
    "x50_source_overlap" -> crossSourceOverlap,
    "x51_dedup_normalized" -> normalizedDedup,
    "x55_dedup_incremental" -> incrementalDedup,
    "x76_kmv_distinct" -> kmvDistinct,
    "x78_cms_heavy_hitters" -> cmsHeavyHitters)

  /** The realized MinHash affine coefficients as a SQL VALUES list —
    * java.util.Random can't run in SQL, but its output is 128 literals. */
  private lazy val coefValues: String = {
    val (as, bs) = graft.functions.Sketches.coeffs(MinhashK, 42L)
    (0 until MinhashK).map(j => s"(${j}, ${as(j)}, ${bs(j)})").mkString(", ")
  }

  /** The realized hyperplane matrix as SQL list literals (one VALUES
    * row per plane). Scala's Double.toString is the shortest exact
    * round-trip form and DuckDB parses it back to the identical IEEE
    * double, so the oracle's ordered multiply-add fold reproduces
    * Spark's compiled loop bit-for-bit (the property x07's cosine
    * oracle already hash-proves). */
  private lazy val planeValues: String =
    Planes.zipWithIndex.map { case (row, b) =>
      s"($b, [${row.mkString(", ")}])" }.mkString(", ")

  /** Shared oracle SQL: per-doc sorted portable gram-hash sets for
    * word n-grams (mirrors shingleHashes + array_sort).
    * Emits CTEs `sets(doc_id, hs, setkey)`. */
  private def gramSetsSql(n: Int): String = s"""
      toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
      idx AS (SELECT doc_id, t,
          unnest(range(1, greatest(len(t)-${n - 1}, 1)+1)) AS i FROM toks),
      grams AS (SELECT DISTINCT doc_id,
          array_to_string(list_slice(t, i, i+${n - 1}), ' ') AS gram FROM idx),
      gh AS (SELECT doc_id,
          CAST(concat('0x', substr(md5(gram),1,15)) AS BIGINT) AS h FROM grams),
      sets AS (SELECT doc_id, list_sort(list(h)) AS hs,
          md5(array_to_string(list_sort(list(h)), ',')) AS setkey
        FROM gh GROUP BY doc_id)"""

  /** Shared MinHash oracle prefix: 3-gram shingle sets → signatures →
    * capped band buckets → candidate `pairs(id1, id2)` → `jac(id1, id2,
    * j)` with exact jaccard. The x03 summary and the x106 threshold
    * sweep both build on it, mirroring the shared Scala machinery
    * ([[minhashCandidates]]) — neither side can drift alone. */
  private[ext] def minhashPairsSql: String = s"""
      coef(j, a, b) AS (VALUES $coefValues),
      ${gramSetsSql(3)},
      same AS (SELECT doc_id,
          COUNT(*) OVER (PARTITION BY setkey) - 1 AS n_same FROM sets),
      sig AS (SELECT doc_id, j,
          MIN((a * (h % 2147483647) + b) % 2147483647) AS sv
        FROM gh CROSS JOIN coef GROUP BY doc_id, j),
      sigl AS (SELECT doc_id, list(sv ORDER BY j) AS sig FROM sig GROUP BY doc_id),
      bandix(band) AS (SELECT unnest(range(0, $Bands))),
      bands AS (SELECT g.doc_id, bx.band,
          md5(array_to_string(list_slice(g.sig,
            bx.band*$RowsPerBand+1, bx.band*$RowsPerBand+$RowsPerBand), ',')) AS bkey
        FROM sigl g CROSS JOIN bandix bx),
      sized AS (SELECT doc_id, band, bkey,
          COUNT(*) OVER (PARTITION BY band, bkey) AS bsz FROM bands),
      cold AS (SELECT doc_id, band, bkey FROM sized WHERE bsz <= $SimhashBucketCap),
      pairs AS (SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
        FROM cold a JOIN cold b2
          ON a.band = b2.band AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id
        JOIN sets sa ON sa.doc_id = a.doc_id
        JOIN sets sb ON sb.doc_id = b2.doc_id
        WHERE sa.setkey <> sb.setkey),
      jac AS (SELECT p.id1, p.id2,
          CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
            / greatest(len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)), 1) AS j
        FROM pairs p
        JOIN sets sa ON sa.doc_id = p.id1
        JOIN sets sb ON sb.doc_id = p.id2)"""

  /** Shared oracle SQL tail: per-doc candidate/near-dup counts from
    * `pairs(id1, id2)` + `verified(id1, id2)` + `same(doc_id, n_same)`,
    * over the given base relation (must expose doc_id). */
  private def summarySql(base: String = "documents"): String = s"""
      cand AS (SELECT doc_id, COUNT(*) AS n FROM
        (SELECT id1 AS doc_id FROM pairs UNION ALL SELECT id2 FROM pairs)
        GROUP BY 1),
      near AS (SELECT doc_id, COUNT(*) AS n FROM
        (SELECT id1 AS doc_id FROM verified UNION ALL SELECT id2 FROM verified)
        GROUP BY 1)
      SELECT d.doc_id,
        COALESCE(c.n, 0) + s.n_same AS n_candidates,
        COALESCE(v.n, 0) + s.n_same AS n_near_dups
      FROM $base d
      JOIN same s ON s.doc_id = d.doc_id
      LEFT JOIN cand c ON c.doc_id = d.doc_id
      LEFT JOIN near v ON v.doc_id = d.doc_id
      ORDER BY d.doc_id"""

  val oracles: Map[String, String] = Map(
    // shared minhashPairsSql chain; only cross-side pairs count, and
    // identical sets across the side line join on the set key (the
    // x03 n_same convention applied to the batch/snapshot split)
    "x124_dedup_incremental_near" -> s"""
      WITH $minhashPairsSql,
      crossp AS (SELECT CASE WHEN id1 % 2 = 1 THEN id1 ELSE id2 END AS doc_id, j
        FROM jac WHERE (id1 % 2) <> (id2 % 2)),
      cand AS (SELECT doc_id, COUNT(*) AS n FROM crossp GROUP BY 1),
      near AS (SELECT doc_id, COUNT(*) AS n FROM crossp
        WHERE j >= $MinhashTau GROUP BY 1),
      snap AS (SELECT setkey, COUNT(*) AS n FROM sets
        WHERE doc_id % 2 = 0 GROUP BY 1),
      batch AS (SELECT doc_id, setkey FROM sets WHERE doc_id % 2 = 1)
      SELECT b.doc_id,
        CAST(COALESCE(c.n, 0) + COALESCE(sp.n, 0) AS BIGINT) AS n_candidates,
        CAST(COALESCE(nr.n, 0) + COALESCE(sp.n, 0) AS BIGINT) AS n_near_dups
      FROM batch b
      LEFT JOIN snap sp ON b.setkey = sp.setkey
      LEFT JOIN cand c ON b.doc_id = c.doc_id
      LEFT JOIN near nr ON b.doc_id = nr.doc_id
      ORDER BY b.doc_id""",
    "x115_span_dedup" -> """
      WITH toks AS (SELECT doc_id, source,
          string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      idx AS (SELECT doc_id, source, t,
          unnest(range(1, greatest(len(t)-7, 1)+1)) AS i FROM toks),
      occ AS (SELECT doc_id, source,
          CAST(concat('0x', substr(md5(array_to_string(t[i:i+7], ' ')),1,15)) AS BIGINT) AS g
        FROM idx),
      pg AS (SELECT doc_id, source, g, COUNT(*) AS c FROM occ GROUP BY 1, 2, 3),
      nd AS (SELECT g, COUNT(*) AS ndocs FROM pg GROUP BY 1),
      perdoc AS (SELECT doc_id, source, SUM(c) AS n_spans,
          COALESCE(SUM(CASE WHEN ndocs >= 2 THEN c END), 0) AS dup_spans
        FROM pg JOIN nd USING (g) GROUP BY 1, 2)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_spans) AS BIGINT) AS total_spans,
        CAST(SUM(dup_spans) AS BIGINT) AS dup_spans,
        CAST(SUM(dup_spans) * 1000000 // SUM(n_spans) AS BIGINT) AS dup_span_ppm,
        CAST(SUM(CASE WHEN dup_spans * 2 >= n_spans THEN 1 ELSE 0 END) AS BIGINT)
          AS n_docs_flagged
      FROM perdoc GROUP BY source ORDER BY source""",
    "x78_cms_heavy_hitters" -> s"""
      WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
        FROM documents),
      exact AS (SELECT token, COUNT(*) AS exact_n FROM toks GROUP BY 1),
      probes AS (SELECT token, exact_n FROM exact
        ORDER BY exact_n DESC, token LIMIT 20),
      rws(r) AS (SELECT unnest(range(0, $CmsRows))),
      cells AS (SELECT r,
          CAST(concat('0x', substr(md5(token), r * 8 + 1, 8)) AS BIGINT) % $CmsWidth AS c,
          CAST(SUM(exact_n) AS BIGINT) AS cnt
        FROM exact CROSS JOIN rws GROUP BY 1, 2),
      probed AS (SELECT p.token, p.exact_n, rws.r,
          CAST(concat('0x', substr(md5(p.token), rws.r * 8 + 1, 8)) AS BIGINT) % $CmsWidth AS c
        FROM probes p CROSS JOIN rws)
      SELECT pr.token, pr.exact_n, MIN(ce.cnt) AS est_n
      FROM probed pr JOIN cells ce ON pr.r = ce.r AND pr.c = ce.c
      GROUP BY 1, 2 ORDER BY pr.token""",
    "x76_kmv_distinct" -> s"""
      WITH h AS (SELECT DISTINCT source,
          CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS hv
        FROM documents),
      ranked AS (SELECT source, hv,
          row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM h),
      mink AS (SELECT source, COUNT(*) AS m, MAX(hv) AS hk
        FROM ranked WHERE rn <= $KmvK GROUP BY 1)
      SELECT source,
        CASE WHEN m < $KmvK THEN CAST(m AS DOUBLE)
             ELSE ROUND(${(KmvK - 1).toDouble * math.pow(2, 60)} / CAST(hk AS DOUBLE), 2)
        END AS est_distinct
      FROM mink ORDER BY source""",
    "x03_dedup_minhash" -> s"""
      WITH $minhashPairsSql,
      verified AS (SELECT id1, id2 FROM jac WHERE j >= $MinhashTau),
      ${summarySql()}""",
    "x106_minhash_threshold_sweep" -> s"""
      WITH $minhashPairsSql
      SELECT CAST(floor(j * 20) AS BIGINT) AS bin,
        CAST(floor(j * 20) AS BIGINT) / 20.0 AS tau_lo,
        COUNT(*) AS n_pairs
      FROM jac GROUP BY 1, 2 ORDER BY 1""",
    "x112_dedup_recall_audit" -> s"""
      WITH $minhashPairsSql,
      samp AS (SELECT doc_id, hs, setkey FROM sets
        ORDER BY ${graft.ext.Sampling.u32Sql("doc_id")}, doc_id
        LIMIT $RecallSampleSize),
      truth AS (SELECT a.doc_id AS id1, b2.doc_id AS id2,
          a.setkey AS sk1, b2.setkey AS sk2
        FROM samp a JOIN samp b2 ON a.doc_id < b2.doc_id
        WHERE CAST(len(list_intersect(a.hs, b2.hs)) AS DOUBLE)
          / greatest(len(a.hs) + len(b2.hs) - len(list_intersect(a.hs, b2.hs)), 1)
          >= $MinhashTau),
      vf AS (SELECT id1, id2 FROM jac WHERE j >= $MinhashTau),
      hits AS (SELECT t.id1,
          CASE WHEN t.sk1 = t.sk2 OR v.id1 IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM truth t LEFT JOIN vf v ON t.id1 = v.id1 AND t.id2 = v.id2)
      SELECT (SELECT COUNT(*) FROM samp) AS n_sample_docs,
        COUNT(*) AS n_true_pairs,
        CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_found_pairs,
        CAST(COALESCE(SUM(hit), 0) AS BIGINT) * 1000000
          // greatest(COUNT(*), 1) AS recall_ppm
      FROM hits""",
    "x06_dedup_embedding" -> s"""
      WITH pl(b, p) AS (VALUES $planeValues),
      e AS (SELECT vec_id AS doc_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      bits AS (SELECT e.doc_id, pl.b,
          CASE WHEN list_sum(list_transform(list_zip(e.v, pl.p), q -> q[1]*q[2])) > 0
               THEN 1 ELSE 0 END AS bit
        FROM e CROSS JOIN pl),
      bitstr AS (SELECT doc_id,
          string_agg(CAST(bit AS VARCHAR), '' ORDER BY b) AS bs
        FROM bits GROUP BY doc_id),
      same AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY v) - 1 AS n_same FROM e),
      bandix(band) AS (SELECT unnest(range(0, $EmbBands))),
      bands AS (SELECT doc_id, band,
          substr(bs, band*$BitsPerBand+1, $BitsPerBand) AS bkey
        FROM bitstr CROSS JOIN bandix),
      sized AS (SELECT doc_id, band, bkey,
          COUNT(*) OVER (PARTITION BY band, bkey) AS bsz FROM bands),
      cold AS (SELECT doc_id, band, bkey FROM sized WHERE bsz <= $SimhashBucketCap),
      pairs AS (SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
        FROM cold a JOIN cold b2
          ON a.band = b2.band AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id
        JOIN e ea ON ea.doc_id = a.doc_id
        JOIN e eb ON eb.doc_id = b2.doc_id
        WHERE ea.v <> eb.v),
      verified AS (SELECT p.id1, p.id2 FROM pairs p
        JOIN e e1 ON e1.doc_id = p.id1
        JOIN e e2 ON e2.doc_id = p.id2
        WHERE list_sum(list_transform(list_zip(e1.v, e2.v), q -> q[1]*q[2])) /
          (sqrt(list_sum(list_transform(e1.v, x -> x * x))) *
           sqrt(list_sum(list_transform(e2.v, x -> x * x)))) >= $CosineTau),
      ${summarySql("(SELECT vec_id AS doc_id FROM embeddings)")}""",
    "x04_dedup_simhash" -> s"""
      WITH toksm AS (SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents),
      th AS (SELECT doc_id,
          CAST(concat('0x', substr(md5(tok),1,15)) AS BIGINT) AS h FROM toksm),
      bitix(i) AS (SELECT unnest(range(0, 60))),
      votes AS (SELECT doc_id, i,
          SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS c
        FROM th CROSS JOIN bitix GROUP BY doc_id, i),
      sims AS (SELECT doc_id,
          CAST(SUM(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS sim
        FROM votes GROUP BY doc_id),
      same AS (SELECT doc_id,
          COUNT(*) OVER (PARTITION BY sim) - 1 AS n_same FROM sims),
      bandix(band) AS (SELECT unnest(range(0, 4))),
      bands AS (SELECT doc_id, sim, band, (sim >> (band*15)) & 32767 AS bkey
        FROM sims CROSS JOIN bandix),
      sized AS (SELECT doc_id, sim, band, bkey,
          COUNT(*) OVER (PARTITION BY band, bkey) AS bsz FROM bands),
      cold AS (SELECT doc_id, sim, band, bkey FROM sized WHERE bsz <= $SimhashBucketCap),
      pairs AS (SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2,
          a.sim AS sim1, b2.sim AS sim2
        FROM cold a JOIN cold b2
          ON a.band = b2.band AND a.bkey = b2.bkey
          AND a.doc_id < b2.doc_id AND a.sim <> b2.sim),
      verified AS (SELECT id1, id2 FROM pairs
        WHERE bit_count(xor(sim1, sim2)) <= 3),
      ${summarySql()}""",
    "x05_dedup_ngram_jaccard" -> s"""
      WITH ${gramSetsSql(2)},
      same AS (SELECT doc_id,
          COUNT(*) OVER (PARTITION BY setkey) - 1 AS n_same FROM sets),
      blocked AS (SELECT doc_id, hs, setkey,
          md5(array_to_string(list_slice(hs, 1, 4), ',')) AS block FROM sets),
      sized AS (SELECT doc_id, hs, setkey, block,
          COUNT(*) OVER (PARTITION BY block) AS bsz FROM blocked),
      cold AS (SELECT doc_id, hs, setkey, block FROM sized WHERE bsz <= $SimhashBucketCap),
      pairs AS (SELECT a.doc_id AS id1, b2.doc_id AS id2,
          CAST(len(list_intersect(a.hs, b2.hs)) AS DOUBLE)
            / greatest(len(a.hs) + len(b2.hs) - len(list_intersect(a.hs, b2.hs)), 1)
            AS jac
        FROM cold a JOIN cold b2
          ON a.block = b2.block AND a.doc_id < b2.doc_id
          AND a.setkey <> b2.setkey),
      verified AS (SELECT id1, id2 FROM pairs WHERE jac >= $NgramTau),
      ${summarySql()}""",
    "x55_dedup_incremental" -> """
      WITH batch AS (
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_batch_copies, text
        FROM documents WHERE doc_id % 2 = 1 GROUP BY text)
      SELECT doc_id, n_batch_copies FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM documents s
        WHERE s.doc_id % 2 = 0 AND s.text = b.text)
      ORDER BY doc_id""",
    "x51_dedup_normalized" -> """
      WITH n AS (SELECT doc_id,
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        FROM documents)
      SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_variants
      FROM n GROUP BY norm ORDER BY doc_id""",
    "x50_source_overlap" -> """
      WITH toks AS (SELECT source, doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents),
      idx AS (SELECT source, t, unnest(range(1, greatest(len(t)-7, 1)+1)) AS i FROM toks),
      grams AS (SELECT DISTINCT source, array_to_string(t[i:i+7], ' ') AS gram FROM idx),
      counts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY 1),
      shared AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2)
      SELECT s.source_a, s.source_b, s.n_shared,
        ca.n AS n_grams_a, cb.n AS n_grams_b,
        CAST(s.n_shared AS DOUBLE) / (ca.n + cb.n - s.n_shared) AS jaccard
      FROM shared s
      JOIN counts ca ON ca.source = s.source_a
      JOIN counts cb ON cb.source = s.source_b
      ORDER BY 1, 2""",
    "x01_dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, MIN(n_chars) AS n_chars, text
         FROM documents GROUP BY text ORDER BY doc_id""",
    "x02_dedup_stats" ->
      """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_distinct_texts
         FROM documents""",
    // x26: the oracle recomputes the exact side and asserts the audit
    // verdict; the HLL estimate itself is engine-internal and is
    // bounded by ApproxDedupSpec instead (see approxDedupStats doc).
    "x26_dedup_approx_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
                COUNT(DISTINCT text) AS exact_distinct,
                TRUE AS hll_within_5pct
         FROM documents GROUP BY source ORDER BY source""")
}
