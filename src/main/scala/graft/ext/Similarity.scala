package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheScope.ScopedCacheOps
import org.apache.spark.sql.expressions.Window
import graft.Tables.load
import graft.functions.Sketches._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors).
  *
  * Two paths:
  *  - brute-force top-k: broadcast the (small) query set against the
  *    candidate corpus — exact, O(|Q|·n), the correctness baseline.
  *    This is the right plan even at 100 TB when |Q| is small: the
  *    corpus streams once, queries ride along broadcast.
  *  - LSH top-k: random-hyperplane bucketing prunes the corpus to
  *    hash-adjacent candidates before exact re-ranking — the scale path
  *    when |Q| is large (bucket join instead of cross product).
  */
object Similarity {

  private val K = 5
  private val NQueries = 10

  private def embs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))

  /** Exact cosine top-k: queries (vec_id < NQueries) broadcast against
    * all candidates; per-query rank over cosine. Self-matches excluded.
    * Ties broken by candidate id for determinism. */
  def topKBruteForce(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    val queries = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = all.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
              round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Range-search threshold. Data-dependent: this synthetic corpus's
    * query/candidate cosines are near-orthogonal (p99 ≈ 0.29, max 0.49
    * at sf0.01), so 0.3 retrieves a meaningful tail; a real embedding
    * space would set τ at the duplicate/related boundary (0.8-0.95). */
  private val RangeTau = 0.3

  /** Similarity range search: ALL candidates above cosine τ per query —
    * the retrieval mode for "give me everything related", where top-k's
    * fixed cutoff under- or over-retrieves. Same broadcast shape as the
    * brute-force top-k (corpus streams once, queries ride broadcast,
    * no rank window needed at all — a stateless filter per pair); the
    * LSH/IVF bucketing above is the scale path when |Q| grows. */
  def rangeSearch(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    val queries = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    all.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("v")))
      .filter(col("cos") >= RangeTau)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "neighbor_id")
  }

  private val Planes = hyperplanes(nBits = 64, dim = 64, seed = 11L)
  private val Bands = 16
  private val BitsPerBand = 4

  /** LSH-bucketed ANN: both sides hash to 16×4-bit hyperplane bands;
    * candidates = bucket collisions (generous banding → high recall),
    * then exact cosine re-rank to top-k per query. The cross product
    * never materializes — candidate generation is a shuffle on band
    * keys, |candidates| ≪ |Q|·n.
    *
    * Fully deterministic AND engine-portable: hyperplane sign bits are
    * ordered multiply-add folds (IEEE-identical in any engine), band
    * keys are the bits themselves as strings, and the re-rank is the
    * same cosine arithmetic x07's oracle hash-proves — so the DuckDB
    * oracle replays candidate generation exactly, not just a recall
    * bound. */
  def topKLsh(s: SparkSession, dir: String): DataFrame = {
    val candidates = lshCandidatePairs(s, dir)
      .withColumn("cos", cosine(col("qv"), col("v")))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("vec_id"))
    candidates.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
              round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** x08's candidate generation, factored so the scale harness can
    * weigh it: banded hash both sides, bucket-collision join, distinct
    * (query, candidate) pairs. */
  private def lshCandidatePairs(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir).withColumn("bits", hyperplaneBits(col("v"), Planes))
    // cached: the query side below re-reads this frame — without the
    // cache the 64 hyperplane projections per vector run twice
    val banded = all.select(col("vec_id"), col("v"),
        explode(bitBandStringKeys(col("bits"), Bands, BitsPerBand)).as("bk"))
      .select(col("vec_id"), col("v"), col("bk.band").as("band"), col("bk.key").as("key"))
      .scopedCache()
    val queries = banded.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("band"), col("key"))
    banded.join(queries, Seq("band", "key"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("vec_id"), col("v"))
      .dropDuplicates("query_id", "vec_id")
  }

  /** Exact candidate mass of x08's LSH bucketing on `dir` — the
    * quantity that explains its scale ratio: |Q| is FIXED (NQueries),
    * so candidates grow ∝ corpus size by design and the query's
    * runtime is linear with a deliberately generous recall constant.
    * The scale artifact embeds this count for both slices (verdict r12
    * item 8) so the 100× reading carries its own defense in-band
    * instead of in PERF.md prose. */
  def lshCandidateMass(s: SparkSession, dir: String): Long =
    lshCandidatePairs(s, dir).count()

  /** Hard-negative mining: for each query vector, the top-k most
    * SIMILAR candidates with a DIFFERENT label — the contrastive-
    * training staple (high-cosine other-class examples are the
    * negatives that actually teach the boundary). Identical broadcast
    * shape to [[topKBruteForce]]: the label predicate rides the join
    * condition so excluded pairs never score, and at 100 TB the
    * LSH/IVF bucketing above is the same drop-in scale path. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    val queries = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
              col("label").as("qlabel"))
    val scored = all.join(broadcast(queries),
        col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .withColumn("cos", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("qlabel").cast("long").as("query_label"),
              col("rank"), col("vec_id").as("neighbor_id"),
              col("label").cast("long").as("neighbor_label"),
              round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Per-label centroid similarity matrix — a grouped vector aggregate
    * (element-wise mean as ONE custom typed aggregation, map-side
    * partials like any built-in agg), then pairwise cosine between the
    * 10 label centroids. */
  def labelCentroidSims(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.groupBy("label")
      .agg(graft.functions.VectorAgg.vectorAvg(col("v")).as("c"))
    val a = centroids.select(col("label").as("label1"), col("c").as("c1"))
    val b = centroids.select(col("label").as("label2"), col("c").as("c2"))
    a.join(b, col("label1") < col("label2"))
      .select(col("label1"), col("label2"), round(cosine(col("c1"), col("c2")), 6).as("cos_sim"))
      .orderBy("label1", "label2")
  }

  // Defaults from a measured sweep (RecallProbe, test scope): this
  // synthetic corpus is near-orthogonal, so true neighbors scatter
  // across coarse cells and recall tracks the nprobe/nlist fraction —
  // 6/8 probes + 2 Lloyd iterations measure recall 0.88 (sf0.001) /
  // 0.90 (sf0.01) vs brute force on the quantized path (4/16 gave
  // 0.62; 8/16 sat exactly at the 0.8 floor with no margin). A real
  // embedding space with cluster structure reaches 0.9+ at
  // nprobe/nlist ≈ 1/8; on this corpus that fraction caps near 0.6,
  // which is the documented reason the floor isn't higher.
  private val IvfClusters = 8
  private val IvfProbes = 6
  private val LloydIters = 2

  /** IVF ANN — the other scale path next to LSH: a coarse k-means
    * quantizer (hash-seeded init + Lloyd iterations, all DataFrame
    * ops: broadcast-join assignment + one element-wise sum aggregate),
    * inverted lists keyed by cluster, then probe the `IvfProbes`
    * nearest clusters per query and exact-re-rank only those lists. At
    * 100 TB the inverted lists are a partitioned table and a query
    * touches nprobe/nlist of the corpus.
    *
    * ENGINE-PORTABLE end-to-end, which is what puts an iterative
    * k-means under an exact DuckDB oracle:
    *  - inputs quantize to integers, `floor(double(x) · 2^20)` — the
    *    scale is a power of two so the multiply is exact, and every
    *    downstream vector-vector product of these ≤2^20 components is
    *    exact integer arithmetic inside the double mantissa;
    *  - centroids are element-wise integer MEANS computed as exact
    *    integer sum then ONE truncating integer division (`div` ≡
    *    DuckDB `//`, both toward zero): the sum is order-independent
    *    (a float mean would depend on partial-aggregation order), the
    *    single division is engine-identical, and the division bounds
    *    |centroid| ≤ max|vq| at any cluster size — raw sums grow with
    *    membership and cross the 2^53 exactness bound on large corpora
    *    (cosine is scale-invariant, so the mean ranks like the sum);
    *  - the seed hash is the portable u32 (Sampling.u32), and every
    *    tie breaks on a total order (cos, cluster) / (cos, vec_id). */
  def topKIvf(s: SparkSession, dir: String): DataFrame =
    topKIvfTuned(s, dir, IvfClusters, IvfProbes, LloydIters)

  /** Quantization scale: 2^20 (see [[topKIvf]]). */
  private val QuantScale = 1048576.0

  // (the old asDouble transform-cast helper is gone: cosine() now widens
  // long/float elements in-register inside the fused CosineSim codegen)

  /** Shared IVF index build — quantized vectors, Lloyd centroids, final
    * cluster assignment. Factored out of [[topKIvfTuned]] so the x109
    * SemDeDup pass runs on the IDENTICAL index (same init, same
    * iteration count, same tie-breaks) and the two queries cannot
    * drift; the DuckDB side shares `ivfIndexCtes` the same way.
    * [[ivfCentroids]] returns (all(vec_id, vq) cached, centroids
    * (cluster, c) cached); [[ivfBuild]] adds the exact final assignment
    * index(vec_id, cluster, vq). */
  private def ivfCentroids(s: SparkSession, dir: String,
                           nlist: Int, lloydIters: Int,
                           trainLimit: Option[Int] = None): (DataFrame, DataFrame) = {
    val all = load(s, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorExpressions
          .quantizeLong(col("embedding"), QuantScale).as("vq"))
      .scopedCache()

    // Optional sample-trained quantizer (the faiss-standard shortcut):
    // Lloyd iterates over a FIXED-SIZE hash-ordered sample, so training
    // cost is constant in the corpus and only the single final
    // assignment scans everything. Deterministic (smallest-u32 top-k,
    // a TakeOrdered) and oracle-replayable like every other sample in
    // the tree. None = train on the full table (x28's tuned behavior).
    val train = trainLimit match {
      case Some(n) => all
        .withColumn("__h", graft.ext.Sampling.u32(col("vec_id")))
        .orderBy(col("__h"), col("vec_id")).limit(n)
        .select(col("vec_id"), col("vq")).scopedCache()
      case None => all
    }

    (all, lloydCentroids(train, nlist, lloydIters))
  }

  /** Hash-seeded init + Lloyd over an arbitrary quantized training
    * frame (vec_id, vq) — shared by [[ivfCentroids]] (full/sampled
    * corpus) and the x154 lifecycle (base snapshot only). */
  private def lloydCentroids(train: DataFrame,
                             nlist: Int, lloydIters: Int): DataFrame = {
    // hash-seeded init: the nlist vectors with smallest u32(id)
    var centroids = train
      .withColumn("h", graft.ext.Sampling.u32(col("vec_id")))
      .orderBy("h").limit(nlist)
      .withColumn("cluster", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("h")).cast("long"))
      .select(col("cluster"), col("vq").as("c"))

    val assignTrain = exactAssign(train, _: DataFrame)

    // Lloyd: assign → recompute centroid as the element-wise integer
    // MEAN: exact integer sum (order-independent), then ONE truncating
    // integer division per element (`div` ≡ DuckDB `//`, both toward
    // zero). The division keeps |centroid| ≤ max|vq| at ANY cluster
    // size — raw SUM centroids grow with cluster membership and cross
    // the 2^53 exactness guard on large corpora (found by the suite
    // ScaleCheck at 10×: max|c| hit 6.0e8 and the guard fired). Cosine
    // is scale-invariant, so the mean ranks like the sum it replaces;
    // the truncation is a sub-ulp direction nudge on a COARSE quantizer.
    (1 to lloydIters).foreach { _ =>
      centroids = assignTrain(centroids).groupBy(col("cluster"))
        .agg(graft.functions.VectorAgg.vectorSumLong(col("vq")).as("csum"),
             count(lit(1)).as("n"))
        .select(col("cluster"),
          transform(col("csum"), x => call_function("div", x, col("n"))).as("c"))
    }
    // nlist rows; cached because three consumers re-derive it (index
    // assignment, query probing, the exactness guard below) and its
    // lineage is the whole Lloyd chain
    centroids.scopedCache()
  }

  /** Exact nearest-centroid assignment: every vector against every
    * centroid (broadcast), argmax cosine, ties to the larger cluster id
    * — N·nlist cosines. The x128 hierarchical path is the approximate
    * alternative when nlist itself scales with the corpus. */
  private[graft] def exactAssign(base: DataFrame, cents: DataFrame): DataFrame =
    base.join(broadcast(cents))
      .withColumn("cos", cosine(col("vq"), col("c")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cluster"), struct(col("cos"), col("cluster"))).as("cluster"),
           first(col("vq"), ignoreNulls = true).as("vq"))

  private def ivfBuild(s: SparkSession, dir: String,
                       nlist: Int, lloydIters: Int,
                       trainLimit: Option[Int] = None): (DataFrame, DataFrame, DataFrame) = {
    val (all, centroids) = ivfCentroids(s, dir, nlist, lloydIters, trainLimit)
    val index = exactAssign(all, centroids)
      .select(col("vec_id"), col("cluster"), col("vq"))
    (all, centroids, index)
  }

  /** [[topKIvf]] with the index knobs exposed — nlist (cluster count),
    * nprobe (clusters scanned per query), Lloyd iterations. The recall
    * spec sweeps these; the driver query pins the defaults above. */
  def topKIvfTuned(s: SparkSession, dir: String,
                   nlist: Int, nprobe: Int, lloydIters: Int): DataFrame = {
    val (all, centroids, index) = ivfBuild(s, dir, nlist, lloydIters)
    probeLists(all, centroids, index, nprobe)
  }

  /** The IVF probe over an already-materialized index — shared by x28
    * (index built in-query) and the x154 lifecycle (index read from
    * the persisted manifest table): nearest `nprobe` clusters per
    * query, union their inverted lists, exact re-rank to top-[[K]]. */
  private def probeLists(all: DataFrame, centroids: DataFrame,
                         index: DataFrame, nprobe: Int): DataFrame = {
    val queries = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("vq").as("qv"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("qcos"), col("cluster"))
    val probed = queries.join(broadcast(centroids))
      .withColumn("qcos", cosine(col("qv"), col("c")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("cluster"))

    val candidates = probed.join(index, "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("vq")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("cos"), col("vec_id"))
    candidates.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      // 1-row frame; broadcast cross-join keeps the guard lazy and the
      // isNull filter (assert_true yields NULL on success) forces its
      // evaluation at execution time
      .crossJoin(broadcast(exactnessGuard(all, centroids)))
      .filter(col("exact_ok").isNull)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
              round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** x154: the IVF index LIFECYCLE — build once, append increments,
    * probe the PERSISTED lists. x28 rebuilds quantizer + inverted
    * lists inside the query, the right shape for a one-off audit but
    * not for serving: at 100 TB the ANN index is a TABLE other
    * pipelines read, and appends must not retrain. Here the quantizer
    * trains on the BASE snapshot only (vec_id % 10 != 0) and is then
    * FROZEN — the faiss train-then-add contract; the base inverted
    * lists land in a manifest table (x145 machinery: OCC commit, time
    * travel, vacuum all apply), and the delta batch (vec_id % 10 == 0)
    * is assigned against the frozen centroids and appended as a second
    * commit whose cost is ∝ |delta| — the x149 incremental-maintenance
    * contract applied to the ANN index. The probe then reads the
    * persisted lists. Fold ≡ rebuild because assignment against frozen
    * centroids is per-vector: base∪delta assigned across two commits
    * is exactly all vectors assigned at once — which is what the
    * DuckDB oracle replays (train on base, index everything, probe). */
  def ivfIndexLifecycle(s: SparkSession, dir: String): DataFrame = {
    val root = graft.etl.Sources.nonceRoot("ivf_idx", dir)
    val (all, centroids, index) = ivfLifecycleIndex(s, dir, root)
    probeLists(all, centroids, index, IvfProbes)
  }

  /** The x154 build+append+read, factored so the spec can assert
    * fold ≡ rebuild and diff the delta commit against the delta batch.
    * Returns (all quantized vectors, frozen centroids, persisted
    * lists); the index table holds (vec_id, cluster, vq). */
  private[graft] def ivfLifecycleIndex(s: SparkSession, dir: String,
      root: org.apache.hadoop.fs.Path): (DataFrame, DataFrame, DataFrame) = {
    val all = load(s, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorExpressions
          .quantizeLong(col("embedding"), QuantScale).as("vq"))
      .scopedCache()
    val cRoot = root.suffix("_centroids")
    // OPEN-OR-REPAIR: the build spans two tables and three commits
    // (centroids v1; lists base v1; lists delta v2) and cannot be
    // atomic across tables, so instead of a "built" flag the open
    // path repairs whatever a crashed build left — each step gates on
    // PERSISTED state and is skipped once its commit landed:
    //   centroids table missing   → train Lloyd on the base snapshot,
    //                               commit the frozen quantizer;
    //   lists table missing       → assign base against the PERSISTED
    //                               centroids, commit (v1);
    //   lists at v1 (no delta)    → assign delta, commit (v2).
    // The quantizer NEVER retrains after its commit — repairs assign
    // against the read-back centroids (the faiss train-then-add
    // contract holds through every crash window), and a complete
    // index (lists ≥ v2) makes reopen a pure read: no new commits on
    // either table (both spec-asserted, including the two crash
    // windows driven by table wipe / pointer regression).
    val base = all.filter(pmod(col("vec_id"), lit(10L)) =!= 0)
    val delta = all.filter(pmod(col("vec_id"), lit(10L)) === 0)
    // every build step is a CLAIM-BASED commit at its exact target
    // version (manifestAppendExactly): two concurrent opens that both
    // observe a missing step race for the claim, exactly one commits,
    // the loser discards its staged copy and reads the winner's —
    // check-then-commit is no longer a duplicate-centroid window
    // (ADVICE r17). Both racers compute identical content (the whole
    // chain is deterministic), so either winner is THE table.
    if (!graft.etl.Sources.manifestExists(s, cRoot))
      graft.etl.Sources.manifestAppendExactly(s, cRoot,
        lloydCentroids(base, IvfClusters, LloydIters)
          .select(col("cluster"), col("c")), 1, 1L)
    // ADVICE r18 (high): a racer that LOST the centroid claim can read
    // cRoot in the window between the winner's O_EXCL create (which
    // raised the loser's conflict) and the winner's EofMark + pointer
    // swap — resolveLiveVersion still says 0 and the read comes back
    // EMPTY, so the loser would assign base against zero centroids and
    // could commit an EMPTY base list the index never repairs. Same
    // bounded wait as the lists table below: spin until the centroid
    // commit is VISIBLE before reading frozen.
    var cSpins = 0
    while (graft.etl.Sources.currentManifest(s, cRoot)._1 < 1L && cSpins < 600) {
      Thread.sleep(50); cSpins += 1
    }
    val frozen = graft.etl.Sources.manifestRead(s, cRoot).scopedCache()
    // defense in depth: never let an empty quantizer reach the lists
    // appends — a crashed winner (claim created, body never finished)
    // exhausts the spin and must fail LOUDLY here, not serve a
    // delta-only index forever. An EMPTY CORPUS legitimately commits
    // zero centroids (base empty ⇒ nothing to train on), so the guard
    // fires only when there was training data the quantizer lost.
    require(!frozen.isEmpty || base.isEmpty,
      s"IVF open at $root read EMPTY frozen centroids ($cRoot) — " +
        "centroid commit not visible after bounded wait; refusing to " +
        "build inverted lists against an empty quantizer")
    val listsVersion =
      if (!graft.etl.Sources.manifestExists(s, root)) 0L
      else graft.etl.Sources.currentManifest(s, root)._1
    if (listsVersion < 1L)
      graft.etl.Sources.manifestAppendExactly(s, root,
        exactAssign(base, frozen).select("vec_id", "cluster", "vq"), 2, 1L)
    if (listsVersion < 2L)
      graft.etl.Sources.manifestAppendExactly(s, root,
        exactAssign(delta, frozen).select("vec_id", "cluster", "vq"), 1, 2L)
    // a racer that LOST a claim must not hand back the winner's
    // in-flight intermediate: wait (bounded) until the COMPLETE index
    // (both commits) is visible, so every open serves base+delta. A
    // crashed winner leaves the loop via the timeout with the highest
    // COMMITTED version — a consistent (if partial) snapshot the next
    // open repairs.
    var spins = 0
    while (graft.etl.Sources.currentManifest(s, root)._1 < 2L && spins < 600) {
      Thread.sleep(50); spins += 1
    }
    (all, frozen, graft.etl.Sources.manifestRead(s, root))
  }

  /** x158: equality deletes COMPOSED with the persisted IVF index —
    * the gap the r17 verdict named: x154's lifecycle survives crashes
    * but a manifest equality delete (x145) on the vector corpus left
    * the inverted lists serving tombstoned vec_ids. Here the delete is
    * committed against the LISTS table itself (vec_id is the equality
    * key; ONE commit, zero list files rewritten) and the probe reads
    * the table through the same merge-aware path every consumer uses
    * ([[graft.etl.Sources.manifestRead]]): each list generation
    * anti-joins the tombstones committed after it, so a deleted vector
    * can never be served — tombstone-aware probing falls out of the
    * table format rather than index-special logic. Compaction
    * ([[graft.etl.Sources.manifestApplyDeletes]]) later folds the
    * tombstones into rewritten list files with an identical read
    * (spec-asserted, including the crash window between the delete
    * commit and the compaction); queries also exclude deleted ids — a
    * deleted vector neither queries nor serves. The oracle replays
    * train-on-base → assign-everything → probe with the deleted ids
    * filtered from both sides. */
  def ivfIndexDeleteProbe(s: SparkSession, dir: String): DataFrame =
    ivfDeleteProbeAt(s, dir, graft.etl.Sources.nonceRoot("ivf_del", dir))

  /** The x158 build+delete+probe at an explicit root, factored so the
    * spec can drive the crash window (reopen between delete and
    * compaction) and assert probe-after-compaction equality. */
  private[graft] def ivfDeleteProbeAt(s: SparkSession, dir: String,
      root: org.apache.hadoop.fs.Path): DataFrame = {
    val (all, frozen, _) = ivfLifecycleIndex(s, dir, root)
    val deletedPred = pmod(col("vec_id"), lit(10L)) === 5
    // idempotent across reopens (the open-or-repair contract): commit
    // the tombstones only while the live merged read still serves a
    // victim — a reopen after the delete (or after compaction) commits
    // nothing
    if (!graft.etl.Sources.manifestRead(s, root)
          .filter(deletedPred).isEmpty)
      graft.etl.Sources.manifestDelete(s, root,
        all.filter(deletedPred).select("vec_id"))
    val kept = all.filter(!deletedPred)
    probeLists(kept, frozen, graft.etl.Sources.manifestRead(s, root), IvfProbes)
  }

  /** SemDeDup prune threshold. Data-dependent like RangeTau: this
    * synthetic corpus is near-orthogonal (pair cosines p99 ≈ 0.29), so
    * 0.3 prunes a measurable tail; a real embedding space sets τ at the
    * semantic-duplicate knee (0.93-0.97 in the paper). */
  private val SemTau = 0.3

  /** x109 quantizer density: SemDeDup needs its OWN nlist — denser
    * than x28's recall-tuned 8 — and the sizing IS the cost model:
    * the per-cluster prune pays Σ sᵢ² ≈ N·s (s = N/nlist) while the
    * final assignment pays N·nlist cosines. A fixed nlist makes the
    * prune quadratic (ScaleCheck caught nlist=8 at 9.9× for 10×);
    * nlist ∝ N makes the ASSIGNMENT quadratic instead (the N/80 form
    * measured 219 s on the 100×/200k-vector slice — N²/80 cosines).
    * nlist AUTOSCALES as max(floor, ⌊√N⌋) ([[semNlist]]): both phases
    * land at N^1.5, the balanced exact-assignment optimum (measured
    * ~6× less work than N/80 at 200k vectors). The next rung — the
    * APPROXIMATE hierarchical assignment (quantize the centroids,
    * probe a centroid bucket instead of scanning all nlist) — is what
    * x109 NOW RUNS for its final assignment (since round 15; x128 is
    * the standalone deliverable, x129 its accuracy audit), taking the
    * pass to ~N^1.25. At every driver SF
    * (√N < floor) the formula floors at 64, so gate results are
    * unchanged; the DuckDB oracle computes the SAME expression
    * ([[semNlistSql]] — IEEE sqrt is correctly rounded in both engines)
    * so the two can never disagree on the cluster count. */
  private val SemClustersFloor = 64

  /** Scala-side autoscaled nlist (one metadata-cheap count). */
  private def semNlist(s: SparkSession, dir: String): Int =
    math.max(SemClustersFloor.toLong,
      math.sqrt(load(s, dir, "embeddings").count().toDouble).toLong).toInt

  /** The identical computation in DuckDB for the oracle CTEs. */
  private def semNlistSql: String =
    s"GREATEST($SemClustersFloor, CAST(floor(sqrt((SELECT COUNT(*) FROM embeddings))) AS BIGINT))"

  /** x109 quantizer training sample: Lloyd iterates over the 1024
    * smallest-u32 vectors instead of the corpus (the faiss-standard
    * sample-trained quantizer) — training cost is CONSTANT in corpus
    * size and only the single final assignment scans everything. x28
    * keeps full-corpus training (its recall constants were swept
    * against it); the machinery is the same ivfBuild, parameterized. */
  private val SemTrainSample = 1024

  /** Oversized-cluster guard for x109: a degenerate quantizer (all
    * vectors in one cell — dead encoder, all-zero embeddings) would
    * re-create the quadratic prune no nlist can fix. Clusters above
    * this size skip pruning and say so IN THE DELIVERABLE (`capped`
    * column) — the no-silent-caps rule, carried in the output itself
    * rather than a log line, so the oracle replays it too. */
  private val SemClusterCap = 512L

  /** x109: semantic deduplication, cluster-then-prune (SemDeDup, Abbas
    * et al. 2023): k-means-cluster the embeddings, then inside each
    * cluster drop every vector that has a LOWER-id neighbor at cosine
    * ≥ τ. The embedding-space complement of the lexical near-dup family
    * (x03-x06): paraphrases and translations land in the same cluster
    * with high cosine while sharing few n-grams.
    *
    * The prune is the one-pass keep-lowest-id rule — a dropped vector
    * can still shadow later ones (no transitive closure; deliberate: a
    * single bounded pass, no fixpoint — the connected-components path
    * at x43/x96 is the transitive alternative when cluster-level groups
    * are wanted). Trains on the same [[ivfCentroids]] machinery as x28
    * with its own autoscaled density ([[semNlist]]); the final
    * assignment is the x128 hierarchical probe (see
    * [[semDedupCompute]]) — x129 is its standing accuracy audit.
    *
    * Scale shape: pairwise work is per-cluster Σ sᵢ², bounded by
    * [[semNlist]] (sizing) and [[SemClusterCap]] (degenerate-cluster
    * guard, reported in-band). The pair join shuffles only
    * (cluster, vq); AQE splits a skewed cluster like any skewed join
    * key. The exactness guard rides along: pair dots are bounded by the
    * same magnitudes x28 asserts.
    *
    * The query MATERIALIZES its result through the x121 WAP path
    * (stage → audit → atomic publish) and returns a read of the
    * published copy: the keep-list is the artifact a production
    * curation pass consumes repeatedly, so it is published once and
    * every later consumer in the JVM ([[semKeepList]] — x123) reads
    * the export instead of re-paying the IVF pass. */
  def semDedup(s: SparkSession, dir: String): DataFrame =
    buildAndPublishKeepList(s, dir).orderBy("vec_id")

  /** Published x109 keep-list registry: corpus dir → published path,
    * scoped to this JVM (the scratch root is per-run). */
  private val publishedKeepLists =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** The x109 keep-list for composition (x123): the published copy if
    * this JVM already built one for `dir`, else build-and-publish. The
    * suite therefore pays the IVF pass once, not once per consumer —
    * the 100 TB shape, where the keep-list is a curated table other
    * pipelines join against, not a subquery they re-run. */
  private[graft] def semKeepList(s: SparkSession, dir: String): DataFrame =
    Option(publishedKeepLists.get(dir)) match {
      case Some(p) => graft.Tables.readParquet(s, p.toString)
      case None    => buildAndPublishKeepList(s, dir)
    }

  private def buildAndPublishKeepList(s: SparkSession, dir: String): DataFrame =
    publishedKeepLists.synchronized {
      val key = graft.etl.Sources.dirKey(dir)
      val stage = graft.etl.Sources.scratchPath(s"semdedup_stage_$key")
      val fin = graft.etl.Sources.scratchPath(s"semdedup_keep_$key")
      semDedupCompute(s, dir)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage.toString)
      // WAP audit before publish: the keep-list carries exactly one row
      // per corpus vector, so a count mismatch means a corrupt write
      val staged = graft.Tables.readParquet(s, stage.toString).count()
      val expected = load(s, dir, "embeddings").count()
      if (staged != expected)
        throw new IllegalStateException(
          s"semdedup keep-list audit failed — staged $staged rows != corpus $expected; publish aborted")
      graft.etl.Sources.publishDir(stage, fin)
      publishedKeepLists.put(dir, fin)
      graft.Tables.readParquet(s, fin.toString)
    }

  /** The actual SemDeDup computation (private[graft] so the plan spec
    * asserts THIS frame's join shape — the public [[semDedup]] returns
    * a scan of the published copy, whose plan is just read+sort). */
  private[graft] def semDedupCompute(s: SparkSession, dir: String): DataFrame = {
    val nlist = semNlist(s, dir)
    val (all, centroids) = ivfCentroids(s, dir, nlist, LloydIters, Some(SemTrainSample))
    // Assignment is x128's HIERARCHICAL APPROXIMATE path, not the exact
    // N·nlist argmax: with nlist = √N the exact assignment is N^1.5 —
    // the one superlinear term left in the pass (measured 12.7× at 100×
    // volume) — while the probe path is ~N^1.25 and is exactly what the
    // SemDeDup family already trusts: x128 ships it, x129 audits it
    // against the exact argmax on a sample, and the prune below only
    // needs CONSISTENT cluster membership, not the true argmax (a
    // vector probing into a neighboring cell just dedups against that
    // cell — the same tradeoff the paper's k-means assignment makes).
    // A vector whose probed buckets hold no fine centroid (possible
    // only under duplicate-centroid ties) keeps cluster NULL: it pairs
    // with nothing and is always kept — conservative, and one row per
    // vector survives for the WAP audit.
    val assign = semAssignApproxFrame(all, centroids, semNcoarse(nlist))
    // THREE consumers read the assignment (sizes, the pair join's cold
    // side, the final audit rows) and its lineage is the whole Lloyd +
    // probe chain — cache it rather than re-running the probe.
    val index = all
      .join(assign.select(col("vec_id"), col("acluster").as("cluster")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("vq"))
      .scopedCache()
    // nlist-row frame: every downstream consumer broadcasts it
    val sizes = index.groupBy("cluster").agg(count(lit(1)).as("csz"))
    val cold = index.join(broadcast(sizes), "cluster")
      .filter(col("csz") <= SemClusterCap)
    val left = cold.select(col("cluster"), col("vec_id").as("a_id"), col("vq").as("a_vq"))
    val right = cold.select(col("cluster"), col("vec_id").as("b_id"), col("vq").as("b_vq"))
    val dropped = left.join(right, "cluster")
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosine(col("a_vq"), col("b_vq")))
      .filter(col("cos") >= SemTau)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("kept", lit(0))
    index.select(col("vec_id"), col("cluster"))
      // LEFT join: a NULL-cluster (unassignable) vector still gets its
      // audit row — when(csz > cap) yields 0 for its null csz in both
      // engines (CASE ... ELSE 0)
      .join(broadcast(sizes), Seq("cluster"), "left")
      .join(dropped, Seq("vec_id"), "left")
      .withColumn("kept", coalesce(col("kept"), lit(1)))
      .withColumn("capped",
        when(col("csz") > SemClusterCap, lit(1)).otherwise(lit(0)))
      .crossJoin(broadcast(exactnessGuard(all, centroids)))
      .filter(col("exact_ok").isNull)
      // no sort before the write: the published parquet is unordered
      // (consumers sort or join as they need, like any published table)
      .select(col("vec_id"), col("cluster"), col("kept"), col("capped"))
  }

  /** x128 coarse-probe width: how many coarse buckets a vector scans
    * before the fine argmax. 2 (not 1) because bucket boundaries are
    * exactly where the nearest fine centroid sits in the runner-up
    * coarse cell — the standard multi-probe hedge; the x129 audit
    * measures what it buys. */
  private val SemCoarseProbes = 2

  /** Audit sample bound for the exact-reference audits (x129/x133).
    * Their exact side scores every vector against every centroid —
    * N·nlist cosines, the one cost that outgrows the production path
    * it audits (r13 scale audit: 48-66 s at 100× volume, ratios >11).
    * The audit therefore runs on a DETERMINISTIC hash sample of
    * ~[[AuditSampleCap]] vectors: keep vec_id iff
    * u32(vec_id + [[AuditSalt]]) < ⌊cap·2^32 / n_corpus⌋ — the
    * threshold is precomputed ONCE as a fixed integer (the
    * stratifiedSample precedent), never as a per-row u32·n_corpus
    * product: that product overflows Int64 once n_corpus ≥ ~2^31
    * (non-ANSI Spark wraps negative and spuriously passes; DuckDB
    * errors), exactly the >2B-vector scale the sampling exists for.
    * Both engines floor-divide two positive Int64s, so the row sets
    * match bit-for-bit (the x93 hash-threshold
    * precedent). The salt decorrelates the sample from the
    * smallest-u32 QUANTIZER-TRAINING seeding: unsalted, the sample
    * would be exactly the training set at scale and audit the vectors
    * the quantizer fits best. Sample size is IN-BAND (n_vecs is the
    * sample; n_corpus rides alongside) — no silent cap. Small corpora
    * (N ≤ cap) keep everything, so the driver-SF oracle audits the
    * full corpus and the sampling rule itself stays oracle-verified. */
  private val AuditSampleCap = 2048L
  private val AuditSalt = 1000003L
  private val U32Span = 4294967296L // 2^32

  /** The audit's vector sample (Scala side). `nCorpus` is the one
    * metadata-cheap count the caller already holds; cap ≥ n_corpus
    * pushes the threshold past the u32 range so everything keeps. */
  private def auditSample(all: DataFrame, nCorpus: Long): DataFrame =
    all.filter(
      graft.ext.Sampling.u32(col("vec_id") + lit(AuditSalt))
        < lit(AuditSampleCap * U32Span / math.max(nCorpus, 1L)))

  /** The identical sample rule in DuckDB: `smp(vec_id)` plus the
    * sampled twins of the base/assignment frames. `//` is DuckDB's
    * Int64 floor division — the same ⌊cap·2^32 / n⌋ Scala computes. */
  private def auditSampleCtes: String = s"""
      smp AS (SELECT vec_id FROM e
        WHERE ${graft.ext.Sampling.u32Sql(s"(vec_id + $AuditSalt)")}
              < ${AuditSampleCap * U32Span}
                // GREATEST((SELECT COUNT(*) FROM embeddings), 1)),
      es AS (SELECT e.* FROM e JOIN smp USING (vec_id)),
      fss AS (SELECT f.* FROM fs f JOIN smp USING (vec_id))"""

  /** Coarse-level width for the hierarchical assignment: √nlist buckets
    * over the nlist fine centroids, so per-vector work is
    * √nlist + probes·√nlist instead of nlist. With nlist = √N that is
    * N^(1/4)-per-vector — O(N^1.25) total vs the exact path's N^1.5. */
  private def semNcoarse(nlist: Int): Int =
    math.ceil(math.sqrt(nlist.toDouble)).toInt

  /** Hierarchical (two-level) APPROXIMATE cluster assignment — the
    * documented O(N)-regime SemDeDup rung beyond ~10M vectors
    * ([[SemClustersFloor]] scaladoc): the nlist fine centroids are
    * themselves bucketed under ⌈√nlist⌉ coarse seeds (the smallest-u32
    * fine centroids — same deterministic seeding rule as the quantizer
    * init), a vector scans only the coarse seeds, probes its top
    * [[SemCoarseProbes]] coarse buckets, and takes the fine argmax
    * INSIDE those buckets. Exactness gate intact: every cosine is the
    * same integer-quantized arithmetic, so the DuckDB oracle replays
    * the probe exactly — what is approximate is WHICH centroids get
    * scanned, never the arithmetic.
    *
    * Scale shape: the only shuffles are the compact (vec_id, ccl, ccos)
    * probe window — vq deliberately stays OUT of that exchange (64
    * longs × ncoarse copies per vector would dominate it) and rejoins
    * by vec_id — and the map-side-combined final argmax. Both are
    * linear in N; centroid frames ride broadcast.
    *
    * Returns (vec_id, acluster, acos); a vector whose probed buckets
    * hold no fine centroid (possible only when a seed's own bucket is
    * emptied by duplicate-centroid ties) is absent — callers LEFT-join
    * and surface the count ([[semAssignAudit]] `n_unassigned`). */
  private[graft] def semAssignApproxFrame(all: DataFrame, centroids: DataFrame,
                                          ncoarse: Int,
                                          probes: Int = SemCoarseProbes): DataFrame = {
    val seeds = centroids
      .withColumn("h", graft.ext.Sampling.u32(col("cluster")))
      .orderBy(col("h"), col("cluster")).limit(ncoarse)
      .select(col("cluster").as("ccl"), col("c").as("cc"))
    // fine centroid → coarse bucket: argmax cos, ties to the larger ccl
    val f2c = centroids.join(broadcast(seeds))
      .withColumn("fcos", cosine(col("c"), col("cc")))
      .groupBy(col("cluster"))
      .agg(max_by(col("ccl"), struct(col("fcos"), col("ccl"))).as("ccl"),
           first(col("c"), ignoreNulls = true).as("c"))
      .withColumnRenamed("cluster", "fcl")
    // vector → top-w coarse buckets, EXCHANGE-FREE and CODEGEN (r15
    // scale reading: x128's 100× ratio ran 5.47 vs the 3.16 its N^1.25
    // design predicts — the gap was two corpus-sized exchanges, not
    // compute). The old plan exploded N·ncoarse rows through a
    // per-vector window (shuffle 1) and re-joined the vq payload back
    // by vec_id (shuffle 2, N × 64-long arrays). Instead the seeds
    // ride as ONE broadcast array row and each vector selects its
    // top-w inside the compiled [[graft.functions.VectorExpressions
    // .CoarseTopW]] loop — the exact window tie-break ((ccos DESC,
    // ccl ASC)) and the exact cosine fold, with no interpreted HOF
    // (a transform+array_sort formulation of the same shape measured
    // SLOWER than the window plan at sf0.1: HOF lambdas evaluate
    // interpreted, the Sketches-vs-VectorExpressions lesson). Explodes
    // to w rows per vector carrying vq along; no corpus-sized exchange
    // remains before the final map-side-combined argmax.
    val seedArr = broadcast(seeds
      .agg(collect_list(struct(col("ccl"), col("cc"))).as("sarr")))
    val topc = all.crossJoin(seedArr)
      .select(col("vec_id"), col("vq"),
        explode(graft.functions.VectorExpressions
          .coarseTopW(col("vq"), col("sarr"), probes)).as("ccl"))
    // fine argmax inside the probed buckets only; n_cand counts the
    // fine cosines this vector paid — the cost axis of the x133 sweep
    topc.join(broadcast(f2c), Seq("ccl"))
      .select(col("vec_id"), col("fcl"),
        cosine(col("vq"), col("c")).as("acos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("fcl"), struct(col("acos"), col("fcl"))).as("acluster"),
           max(col("acos")).as("acos"),
           count(lit(1)).as("n_cand"))
  }

  /** Fine-cosine candidate mass of the x128 hierarchical assignment —
    * the ScaleCheck adjudication axis: per-vector probe work is
    * ~probes·√nlist fine cosines (nlist = √N ⇒ N^(1/4) per vector,
    * N^1.25 total BY DESIGN), so x128's scale ratio must track this
    * mass; a ratio beyond it would be plan shape, not data mass.
    * Leaves scoped caches for the caller's [[graft.CacheScope.release]]. */
  def semProbeCandidateMass(s: SparkSession, dir: String): Long = {
    val nlist = semNlist(s, dir)
    val (all, centroids) = ivfCentroids(s, dir, nlist, LloydIters, Some(SemTrainSample))
    semAssignApproxFrame(all, centroids, semNcoarse(nlist))
      .agg(sum(col("n_cand"))).head().getLong(0)
  }

  /** x128: the approximate-assignment production path as a standalone
    * deliverable — per-vector (vec_id, cluster) via the hierarchical
    * probe, NULL for the (rare) unassignable case. Estimate-only by
    * design: x109's gate keeps the exact assignment; this is what a
    * >10M-vector corpus runs instead, and x129 is the trust query that
    * says how far the two sit apart. ScaleCheck measures THIS query for
    * the ~linear-assignment claim. */
  def semAssignApprox(s: SparkSession, dir: String): DataFrame = {
    val nlist = semNlist(s, dir)
    val (all, centroids) = ivfCentroids(s, dir, nlist, LloydIters, Some(SemTrainSample))
    val approx = semAssignApproxFrame(all, centroids, semNcoarse(nlist))
    all.select(col("vec_id"))
      .join(approx, Seq("vec_id"), "left")
      .crossJoin(broadcast(exactnessGuard(all, centroids)))
      .filter(col("exact_ok").isNull)
      .select(col("vec_id"), col("acluster").as("cluster"))
      .orderBy("vec_id")
  }

  /** x129: agreement audit for the x128 approximate assignment — the
    * trust query of the x26/x90 family (production estimate + audited
    * gate): run BOTH assignments, report how often the probe lands on
    * the exact argmax cluster and, when it misses, how much cosine it
    * gave up. One row, all integers (per-mille / ppm via floor — both
    * engines compute the identical IEEE subtraction first):
    * agreement floor is asserted in spec, and regret is bounded-exact
    * (ppm ≤ 2e6 per vector, summed well inside 2^53). The exact path's
    * N·nlist cost is SAMPLE-BOUNDED ([[AuditSampleCap]]): the
    * reference computation runs on a salted deterministic hash sample,
    * sample and corpus sizes in-band — the x90/x93 shape, and the
    * only way an exact reference stays runnable at production scale. */
  def semAssignAudit(s: SparkSession, dir: String): DataFrame = {
    val nlist = semNlist(s, dir)
    val (all, centroids) = ivfCentroids(s, dir, nlist, LloydIters, Some(SemTrainSample))
    val nCorpus = load(s, dir, "embeddings").count()
    val sample = auditSample(all, nCorpus)
    val approx = semAssignApproxFrame(sample, centroids, semNcoarse(nlist))
    val exact = sample.join(broadcast(centroids))
      .withColumn("cos", cosine(col("vq"), col("c")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cluster"), struct(col("cos"), col("cluster"))).as("ecluster"),
           max(col("cos")).as("ecos"))
    val regret = when(col("acluster").isNotNull && col("acluster") =!= col("ecluster"),
      floor((col("ecos") - col("acos")) * lit(1e6)).cast("long")).otherwise(lit(0L))
    exact.join(approx, Seq("vec_id"), "left")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("acluster").isNull, 1L).otherwise(0L)).as("n_unassigned"),
        sum(when(col("acluster") === col("ecluster"), 1L).otherwise(0L)).as("n_agree"),
        max(regret).as("max_regret_ppm"),
        sum(regret).as("sum_regret_ppm"))
      .withColumn("agree_pm",
        call_function("div", col("n_agree") * lit(1000L), col("n_vecs")))
      .crossJoin(broadcast(exactnessGuard(all, centroids)))
      .filter(col("exact_ok").isNull)
      .select(col("n_vecs"), lit(nCorpus).as("n_corpus"), col("n_unassigned"),
        col("n_agree"), col("agree_pm"), col("max_regret_ppm"),
        col("sum_regret_ppm"))
  }

  /** Probe widths the x133 frontier sweep measures. 1/2/3 brackets the
    * committed [[SemCoarseProbes]] = 2 default on both sides. */
  private val SweepProbeWidths = Seq(1, 2, 3)

  /** x133: probe-width frontier sweep for the x128 hierarchical
    * assignment — the x106 pattern (measure the knob's whole frontier
    * BEFORE committing a default) applied to [[SemCoarseProbes]]. Per
    * width w ∈ {1,2,3}: agreement with the exact argmax (‰), the
    * fine-cosine mass paid (`n_fine_cos` — the cost axis; coarse
    * cosines are width-independent), and the total cosine regret of
    * the misses. Agreement is PROVABLY monotone in w — the top-w probe
    * sets are nested and the fine argmax over a candidate superset
    * containing the exact winner IS the exact winner (identical
    * (cos, cluster) tie-break on both paths) — so the sweep shows the
    * marginal agreement each extra probe buys against its linear
    * cosine cost; SimilaritySpec asserts the monotonicity. The exact
    * side is computed once and cached; each width re-probes only. Like
    * x129, both sides run on the [[AuditSampleCap]] hash sample
    * (sample + corpus sizes in-band) — a frontier sweep is a
    * measurement, and measurements at 100 TB are sampled. */
  def semProbeSweep(s: SparkSession, dir: String): DataFrame = {
    val nlist = semNlist(s, dir)
    val (all, centroids) = ivfCentroids(s, dir, nlist, LloydIters, Some(SemTrainSample))
    val nCorpus = load(s, dir, "embeddings").count()
    val sample = auditSample(all, nCorpus)
    val exact = sample.join(broadcast(centroids))
      .withColumn("cos", cosine(col("vq"), col("c")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cluster"), struct(col("cos"), col("cluster"))).as("ecluster"),
           max(col("cos")).as("ecos"))
      .scopedCache()
    val regret = when(col("acluster").isNotNull && col("acluster") =!= col("ecluster"),
      floor((col("ecos") - col("acos")) * lit(1e6)).cast("long")).otherwise(lit(0L))
    SweepProbeWidths.map { w =>
      exact.join(semAssignApproxFrame(sample, centroids, semNcoarse(nlist), w),
          Seq("vec_id"), "left")
        .agg(count(lit(1)).as("n_vecs"),
             sum(when(col("acluster") === col("ecluster"), 1L).otherwise(0L)).as("n_agree"),
             sum(coalesce(col("n_cand"), lit(0L))).as("n_fine_cos"),
             sum(regret).as("sum_regret_ppm"))
        .withColumn("probes", lit(w.toLong))
    }.reduce(_.unionByName(_))
      .withColumn("agree_pm",
        call_function("div", col("n_agree") * lit(1000L), col("n_vecs")))
      .crossJoin(broadcast(exactnessGuard(all, centroids)))
      .filter(col("exact_ok").isNull)
      .select(col("probes"), col("n_vecs"), lit(nCorpus).as("n_corpus"),
        col("n_agree"), col("agree_pm"), col("n_fine_cos"),
        col("sum_regret_ppm"))
      .orderBy("probes")
  }

  /** x110: int8 quantization audit — the memory-4×/bandwidth-4× lever
    * every 100 TB ANN deployment pulls, gated the way every lossy
    * compression must be: measure the reconstruction error BEFORE
    * serving from it. Symmetric per-vector int8: scale = max|x|,
    * qᵢ = floor(xᵢ·127/scale + 0.5) (explicit floor(+0.5) — ROUND
    * half-up, identical in every engine; bare `round()` ties differ:
    * Spark HALF_UP vs DuckDB half-even), error = x − q·scale/127.
    * Per-vector outputs only order-independent reductions (element max
    * / element counts along the array's fixed order — no cross-row
    * float sums, the repo's exactness convention): worst element error
    * as integer ppm OF THE SCALE (floor of an identical double ratio on
    * both engines — decimal `round()` is NOT portable here: these
    * float-origin values land on decimal ties, where Spark rounds the
    * shortest decimal representation HALF_UP and DuckDB rounds the
    * binary value, off-by-one at whatever digit you pick), saturated
    * count (|q| = 127), dead-zone count (q = 0, the small-component
    * mass a coarser scale would erase). `scale` ships RAW: a float
    * magnitude cast to double is exact, so no rounding is needed at
    * all. One scan, ONE compiled pass per row
    * ([[graft.functions.VectorExpressions.QuantAudit]] — the
    * aggregate/transform/zip_with spelling evaluated five interpreted
    * array walks per row and read 20× at the 100× ScaleCheck volume),
    * no shuffle, no rebuild. */
  def quantizationAudit(s: SparkSession, dir: String): DataFrame = {
    val qa = graft.functions.VectorExpressions.quantAudit(col("embedding"))
    load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        qa.getField("scale").as("scale"),
        qa.getField("err_ppm_of_scale").as("err_ppm_of_scale"),
        qa.getField("n_saturated").as("n_saturated"),
        qa.getField("n_deadzone").as("n_deadzone"))
      .orderBy("vec_id")
  }

  /** x114 outlier rule: negative cosine to your OWN label centroid —
    * the vector points away from its label's mass, the cleanest
    * "likely mislabeled / encoder glitch" signal (p5 of this corpus's
    * own-centroid cosines is −0.05, so τ=0 flags a meaningful tail;
    * a tight production embedding space would sit near 0.5+). */
  private val OutlierTau = 0.0

  /** x114: label-coherence outlier audit — for every label, how many
    * vectors contradict their own label centroid, and which vector is
    * worst. The embedding-QA table next to x100 (norms): x100 catches
    * dead encoders, this catches MISLABELED rows and mode collapse
    * before they poison centroid classifiers (x09) or hard-negative
    * mining (x65).
    *
    * Engine-portable end-to-end by the x28 recipe: vectors quantize to
    * integers (floor · 2^20), centroids are element-wise integer MEANS
    * (exact sum, one `div`), every cosine is then identical IEEE
    * arithmetic in both engines — which is what lets the worst-vector
    * argmin be computed as an exact equality join on min_cs rather than
    * an engine-specific arg_min. Scale shape: one broadcast of the
    * label-count centroid frame, one scan for cosines, two label-keyed
    * aggregates; the exactness guard rides along on the same bounds
    * x28 asserts. */
  def outlierAudit(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        graft.functions.VectorExpressions
          .quantizeLong(col("embedding"), QuantScale).as("vq"))
    val cents = e.groupBy("label")
      .agg(graft.functions.VectorAgg.vectorSumLong(col("vq")).as("csum"),
           count(lit(1)).as("n"))
      .select(col("label"),
        transform(col("csum"), x => call_function("div", x, col("n"))).as("c"))
    val scored = e.join(broadcast(cents), "label")
      .withColumn("cs", cosine(col("vq"), col("c")))
      .crossJoin(broadcast(exactnessGuard(
        e.select(col("vec_id"), col("vq")), cents.select(col("label").as("cluster"), col("c")))))
      .filter(col("exact_ok").isNull)
    val agg = scored.groupBy("label").agg(
      count(lit(1)).as("n_vecs"),
      sum(when(col("cs") < OutlierTau, 1L).otherwise(0L)).as("n_outliers"),
      min("cs").as("min_cs"))
    val worst = scored
      .join(broadcast(agg.select(col("label"), col("min_cs"))), Seq("label"))
      .filter(col("cs") === col("min_cs"))
      .groupBy("label").agg(min("vec_id").as("worst_vec_id"))
    agg.join(worst, Seq("label"))
      .select(col("label"), col("n_vecs"), col("n_outliers"),
        round(col("min_cs"), 6).as("worst_cos"), col("worst_vec_id"))
      .orderBy("label")
  }

  /** Runtime exactness guard (ADVICE r5): [[QuantScale]] is sized so the
    * CONSERVATIVE worst-case dot product (dim · max|vq|² · clusterSize)
    * sits at the 2^53 double-mantissa edge with zero headroom — a larger
    * corpus, fatter clusters, or larger-magnitude embeddings would cross
    * it silently, at which point Spark/DuckDB summation-order differences
    * can diverge the x28 oracle. Every dot this index evaluates is
    * bounded by dim · max|component| · max(max|centroid-sum component|,
    * max|component|), so assert on those ACTUAL magnitudes: passes with
    * wide margin today (signed components cancel inside centroid sums),
    * fails the job loudly the day the invariant breaks. Returns a 1-row
    * frame whose `exact_ok` is NULL iff the bound holds. */
  private[ext] def exactnessGuard(all: DataFrame, centroids: DataFrame): DataFrame = {
    // compiled per-row magnitude fold — the HOF spelling
    // (aggregate(transform(v, abs), 0L, greatest)) ran interpreted,
    // adding a full interpreted corpus walk to every guarded query
    val maxAbs: Column => Column = graft.functions.VectorExpressions.maxAbsLong
    // coalesce: an EMPTY corpus aggregates to null maxima, and
    // assert_true(null < bound) raises — zero magnitudes are trivially
    // exact, so an empty index passes the guard instead of crashing
    all.agg(coalesce(max(maxAbs(col("vq"))).cast("double"), lit(0.0)).as("maxv"))
      .crossJoin(centroids.agg(
        coalesce(max(maxAbs(col("c"))).cast("double"), lit(0.0)).as("maxc"),
        coalesce(max(size(col("c"))).cast("double"), lit(0.0)).as("dim")))
      .select(assert_true(
        col("dim") * col("maxv") * greatest(col("maxc"), col("maxv")) < lit(math.pow(2, 53)),
        concat(lit("IVF quantization exactness violated: dim*max|vq|*max|c| >= 2^53 " +
            "— lower Similarity.QuantScale or shrink clusters (dim="),
          col("dim"), lit(", max|vq|="), col("maxv"), lit(", max|c|="), col("maxc"), lit(")"))
      ).as("exact_ok"))
  }

  /** ANN recall audit: recall@k of the LSH index against the exact
    * brute-force top-k, per query. The number every approximate index
    * must publish before it is trusted — at 100 TB you run exactly this
    * on a query sample (exact top-k over a broadcast sample is cheap;
    * the index answers come from the index) and alert when recall
    * drifts. Composes the two existing oracle-proven paths, so the
    * DuckDB twin replays BOTH sides and the recall arithmetic exactly. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val brute = topKBruteForce(s, dir).select(col("query_id"), col("neighbor_id"))
    val lshHits = topKLsh(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    brute.join(lshHits, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg((count(col("hit")).cast("double") / K).as("recall_at_k"))
      .orderBy("query_id")
  }

  /** x100: embedding-table audit — the sanity pass every ANN index
    * build should gate on. Zero vectors poison cosine (0/0), norm
    * outliers distort unnormalized dot-product scores, and both are
    * classic embedding-job failure modes (dead encoder outputs, missing
    * L2-normalize). Per label: counts, zero-norm count, the norm²
    * range, and how many vectors sit within ±10% of unit norm. One scan
    * + one aggregate; norm² is the same codegen DotProduct fold the
    * cosine oracles replay. */
  def embeddingAudit(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
      .withColumn("n2", graft.functions.VectorExpressions.dotProduct(col("v"), col("v")))
    e.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
           sum(when(col("n2") === 0.0, 1L).otherwise(0L)).as("n_zero"),
           min("n2").as("min_norm2"),
           max("n2").as("max_norm2"),
           sum(when(col("n2") >= 0.81 && col("n2") <= 1.21, 1L).otherwise(0L))
             .as("n_unit_band"))
      .orderBy("label")
  }

  /** 16×64 seed-23 Gaussian projection matrix for x139 (Johnson–
    * Lindenstrauss dimensionality reduction; random projection per
    * Bingham & Mannila 2001). Literal rows, so the oracle interpolates
    * the identical doubles — the planeValues precedent. */
  private val ProjPlanes = hyperplanes(nBits = 16, dim = 64, seed = 23L)

  private lazy val projPlaneValues: String =
    ProjPlanes.zipWithIndex.map { case (row, b) =>
      s"($b, [${row.mkString(", ")}])" }.mkString(", ")

  /** x139: random-projection recall audit — the CHEAP-DISTANCE rung of
    * the retrieval ladder (brute → projection → LSH buckets → IVF).
    * Projecting 64-d embeddings onto 16 fixed Gaussian directions cuts
    * every downstream distance computation 4× (the production win when
    * distance mass, not candidate generation, dominates); this audit
    * prices that: per query, recall@$K$ of projected-space exact top-k
    * against full-space exact top-k, plus the true-cosine regret of the
    * projected choice in exact integer ppm (per-item floor(cos·10⁶)
    * BEFORE summation, so group sums are order-free — the x129
    * pattern). Scale shape: one scan computes both representations;
    * queries ride broadcast; regret ≥ 0 by construction (the exact
    * top-k maximizes the per-item-quantized mass). */
  def projectionRecall(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
      .withColumn("pv", array(ProjPlanes.map(p =>
        dot(col("v"), array(p.map(lit): _*))): _*))
    val q = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("pv").as("qpv"))
    val sc = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_full", cosine(col("qv"), col("v")))
      .withColumn("cos_proj", cosine(col("qpv"), col("pv")))
      .withColumn("cos_ppm",
        floor(col("cos_full") * lit(1000000.0)).cast("long"))
      .select("query_id", "vec_id", "cos_full", "cos_proj", "cos_ppm")
      .scopedCache()
    val wF = Window.partitionBy("query_id")
      .orderBy(col("cos_full").desc, col("vec_id"))
    val wP = Window.partitionBy("query_id")
      .orderBy(col("cos_proj").desc, col("vec_id"))
    val exact = sc.withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("vec_id"), col("cos_ppm"))
    val approx = sc.withColumn("rank", row_number().over(wP))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("vec_id"), col("cos_ppm"))
    // the audit-side frames never exceed |Q|·k rows (50 here) at ANY
    // corpus size — broadcast them so the static planner can't pick a
    // sort-merge shuffle for a 50-row join
    val rec = exact.join(
        broadcast(approx.select(col("query_id"), col("vec_id"),
          lit(1).as("hit"))),
        Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg((count(col("hit")).cast("double") / K).as("recall_at_k"),
        sum("cos_ppm").cast("long").as("exact_ppm"))
    val prj = approx.groupBy("query_id")
      .agg(sum("cos_ppm").cast("long").as("proj_ppm"))
    rec.join(broadcast(prj), "query_id")
      .select(col("query_id"), col("recall_at_k"),
        (col("exact_ppm") - col("proj_ppm")).as("regret_ppm"))
      .orderBy("query_id")
  }

  /** x155: int8-quantized SERVING audit — the rung x110 gates. x110
    * measures per-vector reconstruction error of symmetric int8
    * quantization (the 4×-memory/4×-bandwidth lever); this measures
    * what serving actually pays: per query, recall@$K$ of int8-space
    * exact top-k against full-precision exact top-k, plus the
    * true-cosine regret of the quantized choice in integer ppm
    * (per-item floor(cos·10⁶) before summation — order-free group
    * sums, the x139/x129 pattern). Together audit + serving gate are
    * the faiss SQ8 deployment checklist.
    *
    * Engine-portable end-to-end: quantized components are integers
    * ≤ 127 carried as doubles ([[graft.functions.VectorExpressions.
    * Int8Quantize]], one compiled pass — the exact x110 arithmetic),
    * so every int8-side dot/norm is exact integer math and the cosine
    * divides identical doubles in both engines; cosine is
    * scale-invariant per vector, so serving on raw q values ≡ serving
    * on dequantized q·scale/127. Scale shape: one scan computes both
    * representations, queries ride broadcast (fixed |Q| — the
    * x07/x139 linear constant), audit-side frames are ≤ |Q|·k rows
    * and broadcast. */
  def quantizedRecall(s: SparkSession, dir: String): DataFrame = {
    val all = load(s, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"),
        graft.functions.VectorExpressions.int8Quantize(col("embedding")).as("q8"))
    val q = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("q8").as("qq8"))
    // zero-norm guard: an all-zero vector (or an embedding whose int8
    // image collapses to zero) makes cosine 0/0 — under ANSI that
    // ABORTS the query (DIVIDE_BY_ZERO), and under non-ANSI the NaN
    // would outrank every real cosine in a descending sort while
    // DuckDB's NaN/NULL ordering diverges. try_divide + coalesce pins
    // the invariant in the PLAN, not the data: zero-norm candidates
    // rank strictly below every real similarity (cos ∈ [-1,1] ⊃
    // sentinel -2). Identity on a zero-free corpus.
    def guardedCos(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column) =
      coalesce(try_divide(dot(a, b), l2norm(a) * l2norm(b)), lit(-2.0))
    val sc = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_full", guardedCos(col("qv"), col("v")))
      .withColumn("cos_q8", guardedCos(col("qq8"), col("q8")))
      .withColumn("cos_ppm",
        floor(col("cos_full") * lit(1000000.0)).cast("long"))
      .select("query_id", "vec_id", "cos_full", "cos_q8", "cos_ppm")
      .scopedCache()
    val wF = Window.partitionBy("query_id")
      .orderBy(col("cos_full").desc, col("vec_id"))
    val wQ = Window.partitionBy("query_id")
      .orderBy(col("cos_q8").desc, col("vec_id"))
    val exact = sc.withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("vec_id"), col("cos_ppm"))
    val approx = sc.withColumn("rank", row_number().over(wQ))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("vec_id"), col("cos_ppm"))
    val rec = exact.join(
        broadcast(approx.select(col("query_id"), col("vec_id"),
          lit(1).as("hit"))),
        Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg((count(col("hit")).cast("double") / K).as("recall_at_k"),
        sum("cos_ppm").cast("long").as("exact_ppm"))
    val qz = approx.groupBy("query_id")
      .agg(sum("cos_ppm").cast("long").as("q8_ppm"))
    rec.join(broadcast(qz), "query_id")
      .select(col("query_id"), col("recall_at_k"),
        (col("exact_ppm") - col("q8_ppm")).as("regret_ppm"))
      .orderBy("query_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x155_quant_serving" -> quantizedRecall,
    "x139_projection_recall" -> projectionRecall,
    "x109_semdedup" -> semDedup,
    "x128_sem_assign_approx" -> semAssignApprox,
    "x129_sem_assign_audit" -> semAssignAudit,
    "x133_sem_probe_sweep" -> semProbeSweep,
    "x110_quant_audit" -> quantizationAudit,
    "x114_outlier_audit" -> outlierAudit,
    "x100_embedding_audit" -> embeddingAudit,
    "x90_ann_recall" -> annRecall,
    "x07_sim_topk_brute" -> topKBruteForce,
    "x08_sim_topk_lsh" -> topKLsh,
    "x09_sim_label_centroids" -> labelCentroidSims,
    "x28_sim_topk_ivf" -> topKIvf,
    "x154_ivf_index_lifecycle" -> ivfIndexLifecycle,
    "x158_ivf_delete_probe" -> ivfIndexDeleteProbe,
    "x58_sim_range_search" -> rangeSearch,
    "x65_sim_hard_negatives" -> hardNegatives)

  /** DuckDB twin for the brute-force path, with the dot/norm fold
    * written out explicitly so both engines do identical double
    * arithmetic in identical order. */
  /** Seed-11 hyperplanes as SQL list literals (see Dedup.planeValues
    * for why literal interpolation is sound). */
  private lazy val planeValues: String =
    Planes.zipWithIndex.map { case (row, b) =>
      s"($b, [${row.mkString(", ")}])" }.mkString(", ")

  /** DuckDB spelling of the cosine between two BIGINT list columns —
    * same multiply-add fold the Spark DotProduct expression runs, on
    * the same exact integer-valued doubles. */
  private def duckCos(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
        (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
         sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""

  /** Exact DuckDB replay of the full quantized IVF pipeline — the
    * Lloyd iterations unroll into chained CTE blocks (assign sN → pick
    * aN → per-dimension integer sums uN → centroid list cN), then the
    * probe + re-rank mirror the Spark window tie-breaks exactly
    * ((cos, cluster DESC) for assignment, (cos DESC, cluster ASC) for
    * probing, (cos DESC, vec_id ASC) for the final rank). */
  /** Shared CTE prefix replaying [[ivfBuild]] exactly (quantize → seed →
    * Lloyd → final assignment, ending at `idx(vec_id, vq, cluster)`) —
    * interpolated into BOTH the x28 probe oracle and the x109 SemDeDup
    * oracle (each with its own nlist) so the SQL index can never drift
    * from the Scala one. */
  private def ivfIndexCtes(nlistSql: String, trainLimit: Option[Int] = None,
                           trainWhere: String = ""): String = {
    val iters = (1 to LloydIters).map { i =>
      s"""s$i AS (SELECT e.vec_id, e.vq, c.cluster, ${duckCos("e.vq", "c.c")} AS cos
            FROM tr e CROSS JOIN c${i - 1} c),
         a$i AS (SELECT vec_id, vq, cluster FROM (
            SELECT vec_id, vq, cluster,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cluster DESC) AS rn
            FROM s$i) WHERE rn = 1),
         u$i AS (SELECT cluster, pos, SUM(x) // COUNT(*) AS x FROM (
            SELECT cluster, generate_subscripts(vq, 1) AS pos, unnest(vq) AS x FROM a$i)
            GROUP BY 1, 2),
         c$i AS (SELECT cluster, list(x ORDER BY pos) AS c FROM u$i GROUP BY 1)"""
    }.mkString(",\n")
    val trainSql = trainLimit match {
      case Some(n) => s"""SELECT vec_id, vq FROM e $trainWhere
        ORDER BY ${graft.ext.Sampling.u32Sql("vec_id")}, vec_id LIMIT $n"""
      case None => s"SELECT vec_id, vq FROM e $trainWhere"
    }
    s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QuantScale) AS BIGINT)) AS vq
        FROM embeddings),
      tr AS ($trainSql),
      hs AS (SELECT vec_id, ${graft.ext.Sampling.u32Sql("vec_id")} AS h FROM tr),
      nl AS (SELECT $nlistSql AS nlist),
      init AS (SELECT vec_id, cluster FROM (
          SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY h) AS BIGINT) AS cluster
          FROM hs) CROSS JOIN nl WHERE cluster <= nl.nlist),
      c0 AS (SELECT i.cluster, e.vq AS c FROM init i JOIN e USING (vec_id)),
      $iters,
      fs AS (SELECT e.vec_id, e.vq, c.cluster, ${duckCos("e.vq", "c.c")} AS cos
        FROM e CROSS JOIN c$LloydIters c),
      idx AS (SELECT vec_id, vq, cluster FROM (
        SELECT vec_id, vq, cluster,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cluster DESC) AS rn
        FROM fs) WHERE rn = 1)"""
  }

  /** The probe+re-rank tail shared by the x28 oracle, the x154
    * lifecycle oracle (whose only difference is WHERE the quantizer
    * trained — the `idx` both end at covers the full corpus), and the
    * x158 delete-probe oracle (`alive` filters the tombstoned ids from
    * both the query side and the candidate side). */
  private def ivfProbeTailSql(alive: String = "TRUE"): String = s"""
      q AS (SELECT vec_id AS query_id, vq AS qv FROM e
        WHERE vec_id < $NQueries AND $alive),
      pr AS (SELECT query_id, qv, cluster FROM (
        SELECT q.query_id, q.qv, c.cluster,
          ROW_NUMBER() OVER (PARTITION BY q.query_id
            ORDER BY ${duckCos("q.qv", "c.c")} DESC, c.cluster) AS pn
        FROM q CROSS JOIN c$LloydIters c) WHERE pn <= $IvfProbes),
      cand AS (SELECT pr.query_id, i.vec_id, ${duckCos("pr.qv", "i.vq")} AS cos
        FROM pr JOIN idx i USING (cluster)
        WHERE i.vec_id <> pr.query_id AND ${alive.replace("vec_id", "i.vec_id")}),
      ranked AS (SELECT query_id, vec_id, cos,
        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
        FROM cand)
      SELECT query_id, rank, vec_id AS neighbor_id, ROUND(cos, 6) AS cos_sim
      FROM ranked WHERE rank <= $K ORDER BY query_id, rank"""

  private lazy val ivfProbeSuffixSql: String = ivfProbeTailSql()

  private lazy val ivfOracleSql: String =
    s"""${ivfIndexCtes(IvfClusters.toString)},
      $ivfProbeSuffixSql"""

  /** x154 oracle: the from-scratch rebuild the persisted fold must
    * equal — train on the base snapshot only, assign EVERYTHING
    * against the frozen centroids, probe. Identical to base-commit +
    * delta-commit because frozen-centroid assignment is per-vector. */
  private lazy val ivfLifecycleOracleSql: String =
    s"""${ivfIndexCtes(IvfClusters.toString,
         trainWhere = "WHERE vec_id % 10 <> 0")},
      $ivfProbeSuffixSql"""

  /** x158 oracle: the x154 chain (train on base, assign everything)
    * with the tombstoned ids (vec_id % 10 = 5) excluded from queries
    * and candidates — exactly what the merge-aware probe serves. */
  private lazy val ivfDeleteOracleSql: String =
    s"""${ivfIndexCtes(IvfClusters.toString,
         trainWhere = "WHERE vec_id % 10 <> 0")},
      ${ivfProbeTailSql(alive = "vec_id % 10 <> 5")}"""

  /** Shared DuckDB CTE chain ending in `sem_keep(vec_id)` — the x109
    * semantic keep list, factored so compositions (x123) replay the
    * IDENTICAL clustering + prune in SQL instead of a copy that can
    * drift (same no-drift contract as `ivfIndexCtes`/`CurationGateSql`).
    * The assignment is the x128 hierarchical probe (`aidx`), exactly
    * what the Scala side now runs — the approx chain's own CTEs are
    * reused so the two replays cannot drift either. */
  private[graft] lazy val semKeepCtes: String = s"""
      $semApproxPrefixCtes,
      ${semProbeCtes(SemCoarseProbes, "k")},
      aidx AS (SELECT e.vec_id, e.vq, apk.acluster AS cluster
               FROM e LEFT JOIN apk USING (vec_id)),
      csz AS (SELECT cluster, COUNT(*) AS n FROM aidx GROUP BY 1),
      cold AS (SELECT i.* FROM aidx i JOIN csz USING (cluster)
        WHERE csz.n <= $SemClusterCap),
      drops AS (SELECT DISTINCT b.vec_id
        FROM cold a JOIN cold b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE ${duckCos("a.vq", "b.vq")} >= $SemTau),
      sem_keep AS (SELECT i.vec_id FROM aidx i
        LEFT JOIN drops d ON i.vec_id = d.vec_id WHERE d.vec_id IS NULL)"""

  /** Shared DuckDB CTE prefix for the hierarchical-assignment replays
    * (coarse seeds → fine→coarse buckets), ending at `f2c(fcl, ccl, c)`
    * — interpolated into the x128/x129 chain AND each width of the
    * x133 sweep so the SQL probe can never drift from the Scala one
    * (the ivfIndexCtes contract). */
  private lazy val semApproxPrefixCtes: String = s"""
      ${ivfIndexCtes(semNlistSql, Some(SemTrainSample))},
      ncl AS (SELECT CAST(ceil(sqrt(CAST(nlist AS DOUBLE))) AS BIGINT) AS nc FROM nl),
      sds AS (SELECT cluster AS ccl, c AS cc FROM (
          SELECT cluster, c,
            ROW_NUMBER() OVER (ORDER BY ${graft.ext.Sampling.u32Sql("cluster")}, cluster) AS rn
          FROM c$LloydIters) CROSS JOIN ncl WHERE rn <= ncl.nc),
      f2c AS (SELECT fcl, ccl, c FROM (
          SELECT f.cluster AS fcl, s.ccl, f.c,
            ROW_NUMBER() OVER (PARTITION BY f.cluster
              ORDER BY ${duckCos("f.c", "s.cc")} DESC, s.ccl DESC) AS rn
          FROM c$LloydIters f CROSS JOIN sds s) WHERE rn = 1)"""

  /** One probe width's CTE block (vector probe → candidate cosines →
    * fine argmax): `vc$sfx` / `cand$sfx` / `ap$sfx(vec_id, acluster,
    * acos)`. `cand$sfx` is kept as a named CTE so the sweep can count
    * the fine-cosine mass the width paid. `base` is the vector frame —
    * `e` for the full-corpus x128 path, the sampled `es` for the
    * audits (so cand counts the SAMPLE's cosine mass, mirroring the
    * Scala side). */
  private def semProbeCtes(probes: Int, sfx: String,
      base: String = "e"): String = s"""
      vc$sfx AS (SELECT vec_id, ccl FROM (
          SELECT e.vec_id, s.ccl,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY ${duckCos("e.vq", "s.cc")} DESC, s.ccl) AS pr
          FROM $base e CROSS JOIN sds s) WHERE pr <= $probes),
      cand$sfx AS (SELECT v.vec_id, f.fcl, ${duckCos("e2.vq", "f.c")} AS cos
          FROM vc$sfx v JOIN $base e2 USING (vec_id) JOIN f2c f USING (ccl)),
      ap$sfx AS (SELECT vec_id, fcl AS acluster, cos AS acos FROM (
          SELECT vec_id, fcl, cos,
            ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY cos DESC, fcl DESC) AS rn
          FROM cand$sfx) WHERE rn = 1)"""

  /** The x128/x129 chain: prefix + the committed default width, ending
    * at `ap(vec_id, acluster, acos)`. */
  private lazy val semApproxCtes: String =
    s"""$semApproxPrefixCtes,
      ${semProbeCtes(SemCoarseProbes, "")}"""

  private val baseOracles: Map[String, String] = Map(
    "x28_sim_topk_ivf" -> ivfOracleSql,
    "x154_ivf_index_lifecycle" -> ivfLifecycleOracleSql,
    "x158_ivf_delete_probe" -> ivfDeleteOracleSql,
    "x128_sem_assign_approx" -> s"""
      $semApproxCtes
      SELECT e.vec_id, ap.acluster AS cluster
      FROM e LEFT JOIN ap USING (vec_id) ORDER BY e.vec_id""",
    "x129_sem_assign_audit" -> s"""
      $semApproxPrefixCtes,
      $auditSampleCtes,
      ${semProbeCtes(SemCoarseProbes, "", base = "es")},
      ex AS (SELECT vec_id, cluster AS ecluster, cos AS ecos FROM (
          SELECT vec_id, cluster, cos,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cluster DESC) AS rn
          FROM fss) WHERE rn = 1),
      j AS (SELECT ex.vec_id, ecluster, ecos, acluster, acos
        FROM ex LEFT JOIN ap USING (vec_id))
      SELECT COUNT(*) AS n_vecs,
        (SELECT COUNT(*) FROM embeddings) AS n_corpus,
        CAST(SUM(CASE WHEN acluster IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unassigned,
        CAST(SUM(CASE WHEN acluster = ecluster THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        (CAST(SUM(CASE WHEN acluster = ecluster THEN 1 ELSE 0 END) AS BIGINT) * 1000)
          // COUNT(*) AS agree_pm,
        MAX(CASE WHEN acluster IS NOT NULL AND acluster <> ecluster
          THEN CAST(floor((ecos - acos) * 1000000) AS BIGINT) ELSE 0 END) AS max_regret_ppm,
        CAST(SUM(CASE WHEN acluster IS NOT NULL AND acluster <> ecluster
          THEN CAST(floor((ecos - acos) * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT)
          AS sum_regret_ppm
      FROM j""",
    "x133_sem_probe_sweep" -> s"""
      $semApproxPrefixCtes,
      $auditSampleCtes,
      ex AS (SELECT vec_id, cluster AS ecluster, cos AS ecos FROM (
          SELECT vec_id, cluster, cos,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cluster DESC) AS rn
          FROM fss) WHERE rn = 1),
      ${SweepProbeWidths.map(w => semProbeCtes(w, w.toString, base = "es")).mkString(",\n")},
      ${SweepProbeWidths.map(w => s"""r$w AS (
        SELECT CAST($w AS BIGINT) AS probes, COUNT(*) AS n_vecs,
          CAST(SUM(CASE WHEN acluster = ecluster THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
          (SELECT COUNT(*) FROM cand$w) AS n_fine_cos,
          CAST(SUM(CASE WHEN acluster IS NOT NULL AND acluster <> ecluster
            THEN CAST(floor((ecos - acos) * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT)
            AS sum_regret_ppm
        FROM ex LEFT JOIN ap$w USING (vec_id))""").mkString(",\n")}
      ${SweepProbeWidths.map(w =>
        s"""SELECT probes, n_vecs,
           (SELECT COUNT(*) FROM embeddings) AS n_corpus,
           n_agree, (n_agree * 1000) // n_vecs AS agree_pm,
           n_fine_cos, sum_regret_ppm FROM r$w""").mkString(" UNION ALL ")}
      ORDER BY probes""",
    "x109_semdedup" -> s"""
      $semKeepCtes
      SELECT i.vec_id, i.cluster,
        CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept,
        CASE WHEN csz.n > $SemClusterCap THEN 1 ELSE 0 END AS capped
      FROM aidx i LEFT JOIN csz USING (cluster)
      LEFT JOIN drops d ON i.vec_id = d.vec_id
      ORDER BY i.vec_id""",
    "x114_outlier_audit" -> s"""
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QuantScale) AS BIGINT)) AS vq
        FROM embeddings),
      ex AS (SELECT label, generate_subscripts(vq, 1) AS pos, unnest(vq) AS x FROM e),
      cent AS (SELECT label, pos, SUM(x) // COUNT(*) AS x FROM ex GROUP BY 1, 2),
      cl AS (SELECT label, list(x ORDER BY pos) AS c FROM cent GROUP BY 1),
      cos AS (SELECT e.vec_id, e.label, ${duckCos("e.vq", "cl.c")} AS cs
        FROM e JOIN cl USING (label)),
      agg AS (SELECT label, COUNT(*) AS n_vecs,
          CAST(SUM(CASE WHEN cs < $OutlierTau THEN 1 ELSE 0 END) AS BIGINT)
            AS n_outliers,
          MIN(cs) AS min_cs
        FROM cos GROUP BY 1),
      worst AS (SELECT c.label, MIN(c.vec_id) AS worst_vec_id
        FROM cos c JOIN agg a ON c.label = a.label AND c.cs = a.min_cs
        GROUP BY 1)
      SELECT a.label, a.n_vecs, a.n_outliers,
        ROUND(a.min_cs, 6) AS worst_cos, w.worst_vec_id
      FROM agg a JOIN worst w ON a.label = w.label
      ORDER BY a.label""",
    "x110_quant_audit" -> """
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      sc AS (SELECT vec_id, label, v,
          list_aggregate(list_transform(v, x -> abs(x)), 'max') AS scale FROM e),
      qz AS (SELECT *, list_transform(v, x ->
          CASE WHEN scale > 0 THEN floor(x * 127 / scale + 0.5) ELSE 0.0 END) AS q
        FROM sc)
      SELECT vec_id, label, scale,
        CASE WHEN scale > 0 THEN CAST(floor(
          list_aggregate(list_transform(list_zip(v, q),
            p -> abs(p[1] - p[2] * scale / 127)), 'max') * 1000000 / scale)
          AS BIGINT) ELSE 0 END AS err_ppm_of_scale,
        CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_saturated,
        CAST(len(list_filter(q, x -> x = 0)) AS BIGINT) AS n_deadzone
      FROM qz ORDER BY vec_id""",
    "x08_sim_topk_lsh" -> s"""
      WITH pl(b, p) AS (VALUES $planeValues),
      e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      bits AS (SELECT e.vec_id, pl.b,
          CASE WHEN list_sum(list_transform(list_zip(e.v, pl.p), q -> q[1]*q[2])) > 0
               THEN 1 ELSE 0 END AS bit
        FROM e CROSS JOIN pl),
      bitstr AS (SELECT vec_id,
          string_agg(CAST(bit AS VARCHAR), '' ORDER BY b) AS bs
        FROM bits GROUP BY vec_id),
      bandix(band) AS (SELECT unnest(range(0, $Bands))),
      bands AS (SELECT vec_id, band, substr(bs, band*$BitsPerBand+1, $BitsPerBand) AS bkey
        FROM bitstr CROSS JOIN bandix),
      cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id
        FROM bands qb JOIN bands cb
          ON qb.band = cb.band AND qb.bkey = cb.bkey
        WHERE qb.vec_id < $NQueries AND cb.vec_id <> qb.vec_id),
      scored AS (SELECT c.query_id, c.vec_id,
          list_sum(list_transform(list_zip(q.v, e.v), p -> p[1] * p[2])) /
          (sqrt(list_sum(list_transform(q.v, x -> x * x))) *
           sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS cos
        FROM cand c
        JOIN e q ON q.vec_id = c.query_id
        JOIN e ON e.vec_id = c.vec_id),
      ranked AS (SELECT query_id, vec_id,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank, cos
        FROM scored)
      SELECT query_id, rank, vec_id AS neighbor_id, ROUND(cos, 6) AS cos_sim
      FROM ranked WHERE rank <= $K ORDER BY query_id, rank""",
    "x65_sim_hard_negatives" -> s"""
      WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e WHERE vec_id < $NQueries),
      scored AS (
        SELECT q.query_id, q.qlabel, e.vec_id, e.label,
          list_sum(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2])) /
          (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
           sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS cos
        FROM e, q WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel),
      ranked AS (
        SELECT query_id, qlabel, vec_id, label,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank, cos
        FROM scored)
      SELECT query_id, CAST(qlabel AS BIGINT) AS query_label, rank,
        vec_id AS neighbor_id, CAST(label AS BIGINT) AS neighbor_label,
        ROUND(cos, 6) AS cos_sim
      FROM ranked WHERE rank <= $K ORDER BY query_id, rank""",
    "x58_sim_range_search" -> s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries),
      scored AS (
        SELECT q.query_id, e.vec_id,
          list_sum(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2])) /
          (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
           sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS cos
        FROM e, q WHERE e.vec_id <> q.query_id)
      SELECT query_id, vec_id AS neighbor_id, ROUND(cos, 6) AS cos_sim
      FROM scored WHERE cos >= $RangeTau ORDER BY query_id, neighbor_id""",
    "x07_sim_topk_brute" -> s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries),
      scored AS (
        SELECT q.query_id, e.vec_id,
          list_sum(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2])) /
          (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
           sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS cos
        FROM e, q WHERE e.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, vec_id,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank, cos
        FROM scored)
      SELECT query_id, rank, vec_id AS neighbor_id, ROUND(cos, 6) AS cos_sim
      FROM ranked WHERE rank <= $K ORDER BY query_id, rank""",
    "x09_sim_label_centroids" -> """
      WITH e AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      ex AS (SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e),
      cent AS (SELECT label, pos, AVG(x) AS x FROM ex GROUP BY 1, 2),
      cl AS (SELECT label, list(x ORDER BY pos) AS c FROM cent GROUP BY 1)
      SELECT a.label AS label1, b.label AS label2,
        ROUND(
          list_sum(list_transform(list_zip(a.c, b.c), p -> p[1] * p[2])) /
          (sqrt(list_sum(list_transform(a.c, x -> x * x))) *
           sqrt(list_sum(list_transform(b.c, x -> x * x)))), 6) AS cos_sim
      FROM cl a JOIN cl b ON a.label < b.label
      ORDER BY label1, label2""")

  /** x90 replays BOTH proven paths as derived tables and counts the
    * overlap — the oracle audits the audit. */
  val oracles: Map[String, String] = baseOracles + ("x90_ann_recall" -> s"""
      SELECT b.query_id,
        CAST(COUNT(l.neighbor_id) AS DOUBLE) / $K AS recall_at_k
      FROM (${baseOracles("x07_sim_topk_brute")}) b
      LEFT JOIN (${baseOracles("x08_sim_topk_lsh")}) l
        ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id""") + ("x100_embedding_audit" -> """
      WITH e AS (
        SELECT label,
          list_sum(list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),
            x -> x * x)) AS n2
        FROM embeddings)
      SELECT label, COUNT(*) AS n_vecs,
        CAST(SUM(CASE WHEN n2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        MIN(n2) AS min_norm2, MAX(n2) AS max_norm2,
        CAST(SUM(CASE WHEN n2 >= 0.81 AND n2 <= 1.21 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_unit_band
      FROM e GROUP BY label ORDER BY label""") + ("x139_projection_recall" -> s"""
      WITH pl(b, p) AS (VALUES $projPlaneValues),
      e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      pj AS (SELECT e.vec_id,
               list(list_sum(list_transform(list_zip(e.v, pl.p),
                             q -> q[1] * q[2])) ORDER BY pl.b) AS pv
             FROM e CROSS JOIN pl GROUP BY e.vec_id),
      a AS (SELECT e.vec_id, e.v, pj.pv FROM e JOIN pj USING (vec_id)),
      q AS (SELECT vec_id AS query_id, v AS qv, pv AS qpv
            FROM a WHERE vec_id < $NQueries),
      sc AS (SELECT q.query_id, a.vec_id,
          list_sum(list_transform(list_zip(q.qv, a.v), p -> p[1] * p[2])) /
          (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
           sqrt(list_sum(list_transform(a.v, x -> x * x)))) AS cos_full,
          list_sum(list_transform(list_zip(q.qpv, a.pv), p -> p[1] * p[2])) /
          (sqrt(list_sum(list_transform(q.qpv, x -> x * x))) *
           sqrt(list_sum(list_transform(a.pv, x -> x * x)))) AS cos_proj
        FROM a, q WHERE a.vec_id <> q.query_id),
      sp AS (SELECT query_id, vec_id, cos_full, cos_proj,
               CAST(floor(cos_full * 1000000.0) AS BIGINT) AS cos_ppm FROM sc),
      exact AS (SELECT query_id, vec_id, cos_ppm FROM (
          SELECT query_id, vec_id, cos_ppm,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_full DESC, vec_id) AS rn
          FROM sp) WHERE rn <= $K),
      approx AS (SELECT query_id, vec_id, cos_ppm FROM (
          SELECT query_id, vec_id, cos_ppm,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_proj DESC, vec_id) AS rn
          FROM sp) WHERE rn <= $K),
      rec AS (SELECT b.query_id,
                CAST(COUNT(l.vec_id) AS DOUBLE) / $K AS recall_at_k,
                CAST(SUM(b.cos_ppm) AS BIGINT) AS exact_ppm
              FROM exact b LEFT JOIN approx l
                ON b.query_id = l.query_id AND b.vec_id = l.vec_id
              GROUP BY 1),
      prj AS (SELECT query_id, CAST(SUM(cos_ppm) AS BIGINT) AS proj_ppm
              FROM approx GROUP BY 1)
      SELECT r.query_id, r.recall_at_k,
        (r.exact_ppm - p.proj_ppm) AS regret_ppm
      FROM rec r JOIN prj p ON r.query_id = p.query_id
      ORDER BY r.query_id""") + ("x155_quant_serving" -> s"""
      WITH e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      sc0 AS (SELECT vec_id, v,
            list_aggregate(list_transform(v, x -> abs(x)), 'max') AS scale
            FROM e),
      a AS (SELECT vec_id, v, list_transform(v, x ->
            CASE WHEN scale > 0 THEN floor(x * 127 / scale + 0.5)
                 ELSE 0.0 END) AS q8
            FROM sc0),
      q AS (SELECT vec_id AS query_id, v AS qv, q8 AS qq8
            FROM a WHERE vec_id < $NQueries),
      sc1 AS (SELECT q.query_id, a.vec_id,
          list_sum(list_transform(list_zip(q.qv, a.v), p -> p[1] * p[2])) /
          (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
           sqrt(list_sum(list_transform(a.v, x -> x * x)))) AS cos_full,
          list_sum(list_transform(list_zip(q.qq8, a.q8), p -> p[1] * p[2])) /
          (sqrt(list_sum(list_transform(q.qq8, x -> x * x))) *
           sqrt(list_sum(list_transform(a.q8, x -> x * x)))) AS cos_q8
        FROM a, q WHERE a.vec_id <> q.query_id),
      -- zero-norm guard, mirroring the Spark plan's nanvl sentinel:
      -- a 0/0 cosine (NULL or NaN here) ranks strictly below every
      -- real similarity instead of riding engine-specific NaN order
      sc AS (SELECT query_id, vec_id,
          CASE WHEN cos_full IS NULL OR isnan(cos_full)
               THEN -2.0 ELSE cos_full END AS cos_full,
          CASE WHEN cos_q8 IS NULL OR isnan(cos_q8)
               THEN -2.0 ELSE cos_q8 END AS cos_q8
        FROM sc1),
      sp AS (SELECT query_id, vec_id, cos_full, cos_q8,
               CAST(floor(cos_full * 1000000.0) AS BIGINT) AS cos_ppm FROM sc),
      exact AS (SELECT query_id, vec_id, cos_ppm FROM (
          SELECT query_id, vec_id, cos_ppm,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_full DESC, vec_id) AS rn
          FROM sp) WHERE rn <= $K),
      approx AS (SELECT query_id, vec_id, cos_ppm FROM (
          SELECT query_id, vec_id, cos_ppm,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_q8 DESC, vec_id) AS rn
          FROM sp) WHERE rn <= $K),
      rec AS (SELECT b.query_id,
                CAST(COUNT(l.vec_id) AS DOUBLE) / $K AS recall_at_k,
                CAST(SUM(b.cos_ppm) AS BIGINT) AS exact_ppm
              FROM exact b LEFT JOIN approx l
                ON b.query_id = l.query_id AND b.vec_id = l.vec_id
              GROUP BY 1),
      qz AS (SELECT query_id, CAST(SUM(cos_ppm) AS BIGINT) AS q8_ppm
              FROM approx GROUP BY 1)
      SELECT r.query_id, r.recall_at_k,
        (r.exact_ppm - z.q8_ppm) AS regret_ppm
      FROM rec r JOIN qz z ON r.query_id = z.query_id
      ORDER BY r.query_id""")
}
