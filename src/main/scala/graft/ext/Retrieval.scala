package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CacheScope.ScopedCacheOps
import graft.Tables.load
import graft.functions.TextFunctions.tokens
import graft.functions.Sketches.cosine

/** Retrieval operators over `documents` + `embeddings`: BM25 lexical
  * ranking (x140) and reciprocal-rank-fusion hybrid retrieval (x141) —
  * the production search/curation pattern (lexical recall + dense
  * semantic recall, fused rank-side so neither score scale dominates;
  * Cormack, Clarke & Buettcher 2009).
  *
  * Scale shape (100 TB): the postings table `(doc, term, tf)` is the
  * ONE corpus-sized shuffle — the inverted-index build every search
  * engine pays; `df` is vocab-bounded (Heaps' law) and the corpus
  * scalars (N, total token mass) ride 1-row broadcast joins. The query
  * frame is fixed-|Q| and broadcasts, so candidate scoring is a keyed
  * term join, never a product; everything after the per-query rank
  * window is ≤ |Q|·depth rows and broadcasts.
  *
  * Engine portability: BM25's textbook ln-idf is NOT bit-specified
  * across engines (the x66 rationale), so idf here is the RATIONAL
  * form (N − df + 0.5)/(df + 0.5) — the textbook log's argument,
  * documented deviation. Per-term contributions quantize to exact
  * integer ppm BEFORE summation (floor(c·10⁶) — the x129/x139
  * pattern), so group sums are order-free and the oracle matches
  * hash-for-hash. All remaining arithmetic is +,−,×,÷ on doubles with
  * identical literals and association in both engines (IEEE requires
  * those correctly rounded; ln/exp carry no such guarantee).
  */
object Retrieval {

  private val NQueries = 10
  /** Candidates each ranker feeds the fusion. */
  private val FuseDepth = 20
  /** Rows reported per query. */
  private val OutK = 5
  /** BM25 shape constants (Robertson & Zaragoza 2009 defaults). The
    * folded forms (k1+1 = 2.2, 1−b = 0.25) are written as literals in
    * BOTH engines — folding 1.2+1.0 at runtime yields a DIFFERENT
    * double than the literal 2.2, so the fold must happen in source. */
  private val K1 = 1.2
  private val K1Plus1 = 2.2
  private val B = 0.75
  private val OneMinusB = 0.25
  /** RRF smoothing constant (the k=60 of Cormack et al. 2009). */
  private val RrfK = 60.0
  /** Champion-list size: each term NOMINATES at most this many
    * candidate docs — its top-M postings by (tf DESC, doc_id), the
    * impact-ordered / champion-list truncation of the IR textbooks.
    * Without it one high-df query term drags a corpus-share of
    * postings in as candidates — at 100 TB an unbounded skew join (the
    * r13/r14 scale audit finding: candidate mass grew 8× at 100×
    * volume). A relative df CAP (drop terms in >10% of docs, the first
    * fix attempted) is degenerate on small-vocabulary corpora — this
    * synthetic corpus has a 31-token vocabulary with 30 tokens above
    * 50% df, so a df cap silences 7 of 10 queries entirely; champion
    * lists instead keep every term productive while bounding its
    * nomination fan-out to a constant. Scoring stays EXACT BM25 over
    * the nominated candidates (stage 2 rejoins the candidate docs'
    * full postings), so the only approximation is a doc outside every
    * query term's top-M — the docs the term ranks worst. Per-query
    * nominated-candidate counts ride in-band (`n_cand`) — no silent
    * cap. At every driver SF max df (415) < M, so truncation is a
    * no-op and the oracle verifies the full path bit-for-bit. */
  private val ChampM = 1024
  /** Salt width for the champion-list window's first phase: the top-M
    * of a term is computed per (token, doc_id mod salt) bucket first,
    * then globally over the ≤ salt·M survivors — the hierarchical
    * top-k trick, equivalent to the single global window (any global
    * top-M row is inside its own bucket's top-M) but without funneling
    * a stop-word term's whole corpus-sized postings list through one
    * window partition. */
  private val ChampSalt = 32L
  /** MMR trade-off λ = 0.7 as the exact rational pair (7, 3)/10: the
    * scored objective is mmr10 = 7·rel_ppm − 3·maxsim_ppm — the
    * textbook λ·rel − (1−λ)·maxsim scaled by 10 into pure integers
    * (argmax-invariant, and exact in any engine). */
  private val MmrRelW = 7
  private val MmrDivW = 3
  /** Greedy MMR selection rounds per query. */
  private val MmrK = 5

  /** Postings (doc_id, token, tf) over non-empty whitespace tokens —
    * the inverted-index frame both x140 stages share. `documents.doc_id`
    * must be unique: `tokenCounts` counts per row, so a repeated doc_id
    * would give repeated (doc_id, token) postings. */
  private def postings(s: SparkSession, dir: String): DataFrame =
    // r20 (guide §2.3, profiled): one compiled per-doc counting pass
    // (TokenCounts) replaces explode(tokens)+groupBy(doc,token) — the
    // exploded rows are already unique per doc, so the hash aggregate
    // over the raw token mass (the heaviest stages of every retrieval
    // query's profile) disappears. Value-identical: same tokenization,
    // same counts, same length>0 filter applied after.
    load(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.tokenCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.token").as("token"), col("tc.tf").as("tf"))
      .filter(length(col("token")) > 0)

  /** Per-(query, candidate) BM25 score in exact integer ppm, ranked per
    * query — depth rows per query. Query-side tf is dropped (each
    * DISTINCT query term contributes once — standard for short
    * queries). Self-matches excluded. Candidate generation is
    * df-capped ([[DfCapInv]]); capped terms stay in dl/avgdl. */
  private def bm25Ranked(s: SparkSession, dir: String, depth: Int): DataFrame =
    bm25RankedWithCand(s, dir, depth)._1

  /** [[bm25Ranked]] plus the per-query nominated-candidate counts —
    * the in-band no-silent-caps report x140 carries. Two stages:
    *   1. CANDIDATE GENERATION, bounded: query terms nominate only
    *      their champion lists ([[ChampM]]) — candidate mass per query
    *      ≤ |terms|·M at ANY corpus size, never a corpus-share join.
    *   2. EXACT SCORING of the bounded set: the candidates' own
    *      postings rejoin (bounded by candidates × doc length), so
    *      every nominated doc gets its full, exact BM25 sum. */
  private def bm25RankedWithCand(s: SparkSession, dir: String,
      depth: Int): (DataFrame, DataFrame) = {
    val tf = postings(s, dir).scopedCache()
    val dfreq = tf.groupBy("token").agg(count(lit(1)).cast("long").as("df"))
    val stats = tf.agg(sum("tf").cast("long").as("total_tf"))
      .crossJoin(broadcast(
        load(s, dir, "documents").agg(count(lit(1)).cast("long").as("n_docs"))))
    val dl = tf.groupBy("doc_id").agg(sum("tf").cast("long").as("dl"))
    // no distinct: tf is the output of groupBy(doc_id, token), so
    // (query_id, token) is unique by construction — the r19 plan audit
    // found the distinct adding a full exchange+aggregate for a no-op
    // (guide §2.4's "distinct on data that is already unique")
    val qt = tf.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("query_id"), col("token"))
    // champion lists: per-term top-M postings, salted two-phase window
    // ([[ChampSalt]]) so a stop-word term's postings never collapse
    // into one partition
    val w1 = Window
      .partitionBy(col("token"), pmod(col("doc_id"), lit(ChampSalt)))
      .orderBy(col("tf").desc, col("doc_id"))
    val w2 = Window.partitionBy(col("token"))
      .orderBy(col("tf").desc, col("doc_id"))
    val champ = tf
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= ChampM)
      .withColumn("r2", row_number().over(w2)).filter(col("r2") <= ChampM)
      .select("token", "doc_id")
    val cand = qt.join(champ, Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .select("query_id", "doc_id").distinct()
    val nCand = cand.groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_cand"))
    val nD = col("n_docs").cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val avgdl = col("total_tf").cast("double") / nD
    val idf = (nD - dfD + lit(0.5)) / (dfD + lit(0.5))
    val denom = tfD + lit(K1) *
      (lit(OneMinusB) + lit(B) * (col("dl").cast("double") / avgdl))
    val contrib = idf * (tfD * lit(K1Plus1)) / denom
    val scored = tf
      .join(cand, Seq("doc_id"))
      .join(qt, Seq("query_id", "token"))
      .join(dfreq, Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("ppm", floor(contrib * lit(1000000.0)).cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum("ppm").cast("long").as("score_ppm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_ppm").desc, col("doc_id"))
    val ranked = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= depth)
    (ranked, nCand)
  }

  /** Exact nominated-candidate mass of x140's champion-list candidate
    * generation on `dir` (Σ per-query n_cand) — the scale-adjudication
    * counter, the [[Similarity.lshCandidateMass]] precedent: the
    * ScaleCheck artifact carries the mass on both slices so the
    * bounded-nomination claim is measured, not asserted. Leaves scoped
    * caches for the caller's [[graft.CacheScope.release]]. */
  private[graft] def bm25CandidateMass(s: SparkSession, dir: String): Long =
    bm25RankedWithCand(s, dir, OutK)._2
      .agg(coalesce(sum("n_cand"), lit(0L))).head().getLong(0)

  /** x140: BM25 lexical retrieval — top-k candidate docs per query doc
    * (query = the doc's distinct terms), rational-idf variant, exact
    * integer ppm scores, champion-list-bounded candidate generation
    * with the per-query nominated-candidate count in-band. */
  def bm25Retrieval(s: SparkSession, dir: String): DataFrame = {
    val (ranked, nCand) = bm25RankedWithCand(s, dir, OutK)
    ranked
      .join(broadcast(nCand), Seq("query_id"), "left")
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_ppm"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"))
      .orderBy("query_id", "rank")
  }

  /** Dense ranks for the fusion: the x07 brute-force cosine shape over
    * embeddings (doc_id = vec_id, the x49 linkage), depth per query. */
  private def denseRanked(s: SparkSession, dir: String, depth: Int): DataFrame = {
    // raw float arrays: the fused CosineSim widens elements in-register
    // (bit-identical to the cast), and the broadcast/shuffled payload is
    // half the bytes of the old transform-cast double copy
    val all = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    val q = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= depth)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
  }

  /** x141: hybrid retrieval via reciprocal-rank fusion — BM25 (x140's
    * machinery) and dense cosine (x07's) each nominate `FuseDepth`
    * candidates; fused score = 1/(60+r_lex) + 1/(60+r_dense) with a
    * missing ranker contributing 0 (full outer on the candidate key).
    * Rank-side fusion needs no score normalization — exactly why
    * production hybrid search uses it. Docs without an embedding can
    * only be lexically nominated (the corpus is partially embedded —
    * realistic); the fused rank breaks ties by doc_id. The fused
    * score is ONE fixed-shape two-operand double add of two exact
    * divisions — bit-identical in any IEEE engine. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val lex = bm25Ranked(s, dir, FuseDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val dense = denseRanked(s, dir, FuseDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("dense_rank"))
    def term(rank: Column): Column =
      coalesce(lit(1.0) / (lit(RrfK) + rank.cast("double")), lit(0.0))
    // both sides are ≤ |Q|·depth rows at ANY corpus size, so even the
    // full-outer shuffle (broadcast does not support full outer) moves
    // ≤ 2·|Q|·depth rows — constant, not corpus-sized
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", term(col("lex_rank")) + term(col("dense_rank")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= OutK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_score"),
        col("lex_rank").isNotNull.cast("long").as("in_lex"),
        col("dense_rank").isNotNull.cast("long").as("in_dense"))
      .orderBy("query_id", "rank")
  }

  /** Dense candidate pool for MMR: per query the `FuseDepth` best docs
    * by QUANTIZED relevance (rel_ppm = floor(cos·10⁶) — quantize
    * BEFORE ranking so the candidate set itself replays exactly; ties
    * break by doc_id). Carries the embedding so pairwise diversity
    * sims are computed only within the ≤ |Q|·depth pool, never against
    * the corpus. */
  private[graft] def mmrCandidates(s: SparkSession, dir: String): DataFrame = {
    // raw float arrays: the fused CosineSim widens elements in-register
    // (bit-identical to the cast), and the broadcast/shuffled payload is
    // half the bytes of the old transform-cast double copy
    val all = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    val q = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rel_ppm").desc, col("doc_id"))
    all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("rel_ppm",
        floor(cosine(col("qv"), col("v")) * lit(1000000.0)).cast("long"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rel_ppm"), col("v"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= FuseDepth)
      .drop("rnk")
  }

  /** x142: MMR-diversified retrieval (Carbonell & Goldstein 1998) —
    * greedy top-`MmrK` selection from the dense candidate pool,
    * trading relevance against max similarity to the already-selected
    * set (λ = 0.7). Closes the retrieval ladder: x140 lexical → x07
    * dense → x141 fusion → x142 diversification (the dedup-at-serve
    * step a curation pipeline runs on retrieved context).
    *
    * Scale shape: the ONLY corpus-sized work is the candidate scan
    * (brute cosine at fixed |Q| — the x07 constant); the selection
    * loop runs entirely on ≤ |Q|·depth frames (pool, pairwise sims,
    * accumulated picks). Each round's pick frame is MATERIALIZED
    * (eager localCheckpoint, the ConnectedComponents per-round
    * precedent — a production job would use checkpoint()): round k
    * references the selected set twice (the anti-join and the max-sim
    * update), so a fully-lazy unroll compounds the logical plan ~3^k
    * and the analyzer/optimizer — not the data — becomes the cost
    * (measured: 21.8 s lazy vs ~2 s materialized at sf0.001, both
    * sides data-trivial). The picks stay distributed; nothing is
    * collected. All selection arithmetic is exact integers (ppm
    * relevance/sim quantized at the pool edge), so the greedy argmax —
    * including every tie — replays identically in the DuckDB oracle's
    * unrolled CTE blocks.
    *
    * First pick has no selected set: maxsim_ppm is NULL and the score
    * is pure relevance (7·rel_ppm), mirrored in the oracle. */
  def mmrDiversify(s: SparkSession, dir: String): DataFrame = {
    val cand = mmrCandidates(s, dir).scopedCache()
    // all ordered candidate pairs per query — ≤ |Q|·depth·(depth−1)
    val a = cand.select(col("query_id"), col("doc_id").as("da"), col("v").as("va"))
    val b = cand.select(col("query_id"), col("doc_id").as("db"), col("v").as("vb"))
    val pairs = a.join(b, Seq("query_id")).filter(col("da") =!= col("db"))
      .select(col("query_id"), col("da"), col("db"),
        floor(cosine(col("va"), col("vb")) * lit(1000000.0)).cast("long")
          .as("sim_ppm"))
      .scopedCache()
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("rel_ppm").desc, col("doc_id"))
    var selected = cand
      .withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select(col("query_id"), col("doc_id"), col("rel_ppm"),
        lit(null).cast("long").as("maxsim_ppm"),
        (col("rel_ppm") * MmrRelW).as("mmr10"), lit(1L).as("pick"))
      .localCheckpoint()
    for (k <- 2 to MmrK) {
      val rem = cand.join(selected.select("query_id", "doc_id"),
        Seq("query_id", "doc_id"), "left_anti")
      val ms = pairs
        .join(selected.select(col("query_id"), col("doc_id").as("db")),
          Seq("query_id", "db"))
        .groupBy(col("query_id"), col("da").as("doc_id"))
        .agg(max("sim_ppm").as("maxsim_ppm"))
      val wk = Window.partitionBy("query_id")
        .orderBy(col("mmr10").desc, col("doc_id"))
      val picked = rem.select("query_id", "doc_id", "rel_ppm")
        .join(ms, Seq("query_id", "doc_id"))
        .withColumn("mmr10",
          col("rel_ppm") * MmrRelW - col("maxsim_ppm") * MmrDivW)
        .withColumn("rn", row_number().over(wk)).filter(col("rn") === 1)
        .select(col("query_id"), col("doc_id"), col("rel_ppm"),
          col("maxsim_ppm"), col("mmr10"), lit(k.toLong).as("pick"))
        .localCheckpoint()
      selected = selected.union(picked)
    }
    selected
      .select(col("query_id"), col("pick"), col("doc_id"),
        col("mmr10"), col("rel_ppm"), col("maxsim_ppm"))
      .orderBy("query_id", "pick")
  }

  /** x146: retrieval evaluation — the metric gate a retrieval pipeline
    * ships with. Ground truth is label agreement on the embeddings
    * table (query and candidate share `label`); the system under test
    * is the full x141 hybrid ranking. Per query: relevant-in-top-k
    * count, precision@k, rank of the first relevant hit, and
    * reciprocal rank — every metric an exact integer (ppm via
    * truncating division; no log-discounted nDCG, because log is not
    * bit-specified across engines — the x66 rationale). Lexical-only
    * candidates (no embedding row) count as non-relevant.
    *
    * Scale shape: the ranker is x141's machinery; the only NEW join
    * attaches labels to the fused top-k — the corpus-sized label table
    * builds against the BROADCAST ≤ |Q|·k candidate frame (inner,
    * build-right), then a tiny-tiny left join restores candidates
    * without embeddings. Metrics are one groupBy over ≤ |Q|·k rows. */
  def retrievalEval(s: SparkSession, dir: String): DataFrame = {
    val lab = load(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val fused = hybridRrf(s, dir)
      .select(col("query_id"), col("rank"), col("doc_id")).scopedCache()
    val withQ = fused.join(
      broadcast(lab.select(col("vec_id").as("query_id"),
        col("label").as("qlabel"))), Seq("query_id"))
    val hit = lab.select(col("vec_id").as("doc_id"), col("label").as("dlabel"))
      .join(broadcast(fused.select("query_id", "doc_id")), Seq("doc_id"))
    val ev = withQ
      .join(broadcast(hit), Seq("query_id", "doc_id"), "left")
      .withColumn("rel",
        when(col("dlabel").isNotNull && col("dlabel") === col("qlabel"), 1L)
          .otherwise(0L))
    ev.groupBy("query_id")
      .agg(sum("rel").cast("long").as("n_rel_at_k"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel_rank"))
      .select(col("query_id"), col("n_rel_at_k"),
        expr(s"n_rel_at_k * 1000000 div $OutK").as("prec_at_k_ppm"),
        col("first_rel_rank"),
        coalesce(expr("1000000 div first_rel_rank"), lit(0L)).as("rr_ppm"))
      .orderBy("query_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x140_bm25_retrieval" -> bm25Retrieval,
    "x141_hybrid_rrf" -> hybridRrf,
    "x142_mmr_diversify" -> mmrDiversify,
    "x146_retrieval_eval" -> retrievalEval)

  /** Shared CTE chain replaying [[bm25Ranked]] exactly (postings → df →
    * corpus scalars → doc lengths → query terms → per-term ppm →
    * ranked) — ONE definition interpolated into BOTH oracles so x140
    * and x141 can never drift. Ends at `lexr(query_id, doc_id,
    * score_ppm, rank)` fully ranked; use sites filter to their depth. */
  private def bm25Ctes: String = s"""
      toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
      dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
                FROM tf GROUP BY 1),
      stats AS (SELECT (SELECT CAST(SUM(tf) AS BIGINT) FROM tf) AS total_tf,
                       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs),
      dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
             FROM tf GROUP BY 1),
      qt AS (SELECT DISTINCT doc_id AS query_id, token
             FROM tf WHERE doc_id < $NQueries),
      champ AS (SELECT token, doc_id FROM (
          SELECT token, doc_id,
            ROW_NUMBER() OVER (PARTITION BY token
              ORDER BY tf DESC, doc_id) AS r
          FROM tf) WHERE r <= $ChampM),
      cand AS (SELECT DISTINCT q.query_id, c.doc_id
               FROM qt q JOIN champ c ON c.token = q.token
               WHERE c.doc_id <> q.query_id),
      ncand AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_cand
                FROM cand GROUP BY 1),
      ppm AS (
        SELECT ca.query_id, tf.doc_id,
          CAST(floor(
            ((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
               / (CAST(d.df AS DOUBLE) + 0.5))
            * (CAST(tf.tf AS DOUBLE) * $K1Plus1)
            / (CAST(tf.tf AS DOUBLE) + $K1 *
               ($OneMinusB + $B * (CAST(dl.dl AS DOUBLE)
                 / (CAST(s.total_tf AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))
            * 1000000.0) AS BIGINT) AS ppm
        FROM cand ca
        JOIN tf ON tf.doc_id = ca.doc_id
        JOIN qt ON qt.query_id = ca.query_id AND qt.token = tf.token
        JOIN dfreq d ON d.token = tf.token
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s),
      lexs AS (SELECT query_id, doc_id,
                      CAST(SUM(ppm) AS BIGINT) AS score_ppm
               FROM ppm GROUP BY 1, 2),
      lexr AS (SELECT query_id, doc_id, score_ppm,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rank
               FROM lexs)"""

  /** DuckDB cosine between two list-of-double columns — the exact
    * expression shape [[graft.functions.Sketches.cosine]] compiles to
    * (dot / (‖a‖·‖b‖), one IEEE division). */
  private def cosSql(x: String, y: String): String =
    s"""list_sum(list_transform(list_zip($x, $y), p -> p[1] * p[2])) /
        (sqrt(list_sum(list_transform($x, a -> a * a))) *
         sqrt(list_sum(list_transform($y, a -> a * a))))"""

  /** Embedding base CTEs shared by the dense ranker and the MMR pool:
    * `e(vec_id, v)` and the fixed-|Q| query frame `dq`. */
  private def embCtes: String = s"""
      e AS (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      dq AS (SELECT vec_id AS query_id, v AS qv FROM e
             WHERE vec_id < $NQueries)"""

  /** Dense-rank CTE chain — the x07 cosine replay, fully ranked,
    * ending at `denser(query_id, doc_id, rank)`. */
  private def denseCtes: String = s"""
      $embCtes,
      dsc AS (SELECT dq.query_id, e.vec_id AS doc_id,
          ${cosSql("dq.qv", "e.v")} AS cos
        FROM e, dq WHERE e.vec_id <> dq.query_id),
      denser AS (SELECT query_id, doc_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
                 FROM dsc)"""

  /** x142 oracle: unrolled greedy MMR — pool + pairwise sims, then one
    * CTE block per selection round (the x28 Lloyd-unroll pattern).
    * `acc$k` accumulates picks 1..k; every score is exact-integer so
    * the argmax (ties included) replays cell-for-cell. */
  private def mmrOracle: String = {
    val rounds = (2 to MmrK).map { k =>
      s"""
      ms$k AS (SELECT p.query_id, p.da AS doc_id,
                 MAX(p.sim_ppm) AS maxsim_ppm
               FROM pr p JOIN acc${k - 1} s
                 ON s.query_id = p.query_id AND s.doc_id = p.db
               GROUP BY 1, 2),
      pick$k AS (SELECT query_id, doc_id, rel_ppm, maxsim_ppm, mmr10,
                   CAST($k AS BIGINT) AS pick
                 FROM (SELECT c.query_id, c.doc_id, c.rel_ppm,
                         m.maxsim_ppm,
                         c.rel_ppm * $MmrRelW - m.maxsim_ppm * $MmrDivW
                           AS mmr10,
                         ROW_NUMBER() OVER (PARTITION BY c.query_id
                           ORDER BY c.rel_ppm * $MmrRelW -
                                    m.maxsim_ppm * $MmrDivW DESC,
                                    c.doc_id) AS rn
                       FROM cand c
                       JOIN ms$k m ON m.query_id = c.query_id
                         AND m.doc_id = c.doc_id
                       WHERE NOT EXISTS (SELECT 1 FROM acc${k - 1} s
                         WHERE s.query_id = c.query_id
                           AND s.doc_id = c.doc_id))
                 WHERE rn = 1),
      acc$k AS (SELECT * FROM acc${k - 1}
                UNION ALL SELECT * FROM pick$k)"""
    }.mkString(",")
    s"""
      WITH $embCtes,
      msc AS (SELECT dq.query_id, e.vec_id AS doc_id, e.v,
                CAST(floor(${cosSql("dq.qv", "e.v")} * 1000000.0) AS BIGINT)
                  AS rel_ppm
              FROM e, dq WHERE e.vec_id <> dq.query_id),
      cand AS (SELECT query_id, doc_id, v, rel_ppm
               FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY rel_ppm DESC, doc_id) AS rnk FROM msc)
               WHERE rnk <= $FuseDepth),
      pr AS (SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
               CAST(floor(${cosSql("a.v", "b.v")} * 1000000.0) AS BIGINT)
                 AS sim_ppm
             FROM cand a JOIN cand b
               ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
      acc1 AS (SELECT query_id, doc_id, rel_ppm,
                 CAST(NULL AS BIGINT) AS maxsim_ppm,
                 rel_ppm * $MmrRelW AS mmr10, CAST(1 AS BIGINT) AS pick
               FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY rel_ppm DESC, doc_id) AS rn FROM cand)
               WHERE rn = 1),
      $rounds
      SELECT query_id, pick, doc_id, mmr10, rel_ppm, maxsim_ppm
      FROM acc$MmrK ORDER BY query_id, pick"""
  }

  val oracles: Map[String, String] = Map(
    "x140_bm25_retrieval" -> s"""
      WITH $bm25Ctes
      SELECT l.query_id, l.rank, l.doc_id, l.score_ppm,
             COALESCE(nc.n_cand, CAST(0 AS BIGINT)) AS n_cand
      FROM lexr l LEFT JOIN ncand nc ON nc.query_id = l.query_id
      WHERE l.rank <= $OutK
      ORDER BY l.query_id, l.rank""",
    "x141_hybrid_rrf" -> s"""
      WITH $fusionCtes
      SELECT query_id, rank, doc_id, rrf_score, in_lex, in_dense
      FROM fr WHERE rank <= $OutK
      ORDER BY query_id, rank""",
    "x142_mmr_diversify" -> mmrOracle,
    "x146_retrieval_eval" -> s"""
      WITH $fusionCtes,
      topk AS (SELECT query_id, rank, doc_id
               FROM fr WHERE rank <= $OutK),
      lab AS (SELECT vec_id, label FROM embeddings),
      evr AS (SELECT t.query_id, t.rank,
                CASE WHEN dl.label IS NOT NULL AND dl.label = ql.label
                     THEN 1 ELSE 0 END AS rel
              FROM topk t
              JOIN lab ql ON ql.vec_id = t.query_id
              LEFT JOIN lab dl ON dl.vec_id = t.doc_id)
      SELECT query_id,
        CAST(SUM(rel) AS BIGINT) AS n_rel_at_k,
        CAST(SUM(rel) AS BIGINT) * 1000000 // $OutK AS prec_at_k_ppm,
        MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank,
        COALESCE(1000000 // MIN(CASE WHEN rel = 1 THEN rank END),
                 CAST(0 AS BIGINT)) AS rr_ppm
      FROM evr GROUP BY 1 ORDER BY query_id""")

  /** Shared fusion CTE chain — bm25 + dense rankers fused rank-side,
    * fully ranked at `fr(query_id, doc_id, rrf_score, in_lex,
    * in_dense, rank)` — ONE definition for x141 and x146 (the
    * bm25Ctes precedent: shared rankers cannot drift). */
  private def fusionCtes: String = s"""
      $bm25Ctes,
      $denseCtes,
      lexd AS (SELECT query_id, doc_id, rank AS lex_rank
               FROM lexr WHERE rank <= $FuseDepth),
      dend AS (SELECT query_id, doc_id, rank AS dense_rank
               FROM denser WHERE rank <= $FuseDepth),
      fused AS (
        SELECT COALESCE(l.query_id, d.query_id) AS query_id,
               COALESCE(l.doc_id, d.doc_id) AS doc_id,
               COALESCE(1.0 / ($RrfK + CAST(l.lex_rank AS DOUBLE)), 0.0)
                 + COALESCE(1.0 / ($RrfK + CAST(d.dense_rank AS DOUBLE)), 0.0)
                 AS rrf_score,
               CAST(l.lex_rank IS NOT NULL AS BIGINT) AS in_lex,
               CAST(d.dense_rank IS NOT NULL AS BIGINT) AS in_dense
        FROM lexd l
        FULL OUTER JOIN dend d
          ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
      fr AS (SELECT query_id, doc_id, rrf_score, in_lex, in_dense,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
             FROM fused)"""
}
