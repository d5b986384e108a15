package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.load

/** Connected components by iterative min-label propagation — the step
  * that turns near-duplicate PAIRS into actionable CLUSTERS (keep one
  * representative per component). Pairs alone cannot drive deletion:
  * A~B and B~C must resolve to one {A,B,C} group even when A~C was
  * never emitted. No reference analog; the iteration shape follows the
  * standard large-graph min-label algorithm (converges in graph-diameter
  * rounds; near-dup clusters have tiny diameters).
  *
  * Scale notes: each round is one join (edges ⋈ labels on src) + one
  * min-aggregate, both hash-shuffles on 8-byte ids. Labels persist per
  * round (unpersisted once the next round materializes) and the plan is
  * checkpointed every few rounds — caching alone does NOT truncate
  * lineage, so without the checkpoint a lost partition in round k
  * recomputes through all k rounds. The driver loop is control flow
  * only — per-round work is fully distributed; the `changed` count that
  * gates convergence rides the same aggregate.
  */
object ConnectedComponents {

  /** @param nodes one column `id`
    * @param edges columns `src`, `dst` (undirected; either orientation)
    * @return (id, cluster) where cluster = min id reachable
    * @throws IllegalStateException if maxIter rounds did not converge —
    *         a silent exit here would hand back SPLIT components */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    var labels = nodes.select(col("id"), col("id").as("label")).persist()
    // convergence by label-sum: min-label propagation only ever DECREASES
    // labels, so the decimal label total is strictly monotone until the
    // fixpoint — one scalar aggregate per round instead of a
    // join-the-previous-round count (halves the per-round shuffles).
    // decimal(38,0) so 2^63-scale ids cannot overflow the total.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("s"))
        .collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = sym.join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), col("label"))
      var next = labels.select("id", "label").union(prop)
        .groupBy("id").agg(min("label").as("label"))
      // truncate lineage periodically so round-k plans stay O(1) deep —
      // a lineage/planning-cost optimization, NOT failure recovery
      // (localCheckpoint blocks live only on executors; a production
      // run that needs executor-loss recovery should point
      // sparkContext.setCheckpointDir at durable storage and use
      // checkpoint() here instead)
      next = if ((iter + 1) % 5 == 0) next.localCheckpoint() else next.persist()
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels.unpersist()
      labels = next
      iter += 1
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"labelPropagation did not converge in $maxIter rounds " +
          "(labels still shrinking) — components would be split; " +
          "raise maxIter above the graph diameter")
    labels.withColumnRenamed("label", "cluster")
  }

  /** An 8-gram appearing in more than this many distinct documents is
    * boilerplate, not evidence of duplication — and its m²/2 all-pairs
    * edges are what turned edge generation quadratic on self-similar
    * corpora (same hazard the dedup operators cap, Dedup.SimhashBucketCap). */
  val GramDfCap = 64

  /** Driver query: cluster documents that share any non-boilerplate word
    * 8-gram (doc frequency ≤ [[GramDfCap]]; the same deterministic edge
    * relation DuckDB rebuilds and closes transitively with a recursive
    * CTE). Output: one row per document in a non-trivial cluster, with
    * its cluster id (= min member doc_id) and the cluster size.
    *
    * Edge generation is STAR-shaped, never all-pairs: each gram
    * contributes edges (min_doc, doc) to its other members — O(m) edges
    * per gram instead of m²/2, with identical connected components
    * (every pair sharing a gram is joined through the gram's root). No
    * self-join anywhere: one aggregate for per-gram roots, one join
    * back. */
  /** Star edges from a (doc_id, gram) membership table: per gram with
    * document frequency in (1, cap], edges (min member, other member).
    * O(m) edges per gram; a gram above the cap contributes NO edges.
    * Expects grams pre-deduped per doc (doc frequency = row count). */
  def starEdges(grams: DataFrame, cap: Int): DataFrame = {
    val gramRoots = grams.groupBy("gram")
      .agg(min(col("doc_id")).as("src"), count(lit(1)).as("df"))
      .filter(col("df") > 1 && col("df") <= cap)
    grams.join(gramRoots, Seq("gram"))
      .filter(col("doc_id") =!= col("src"))
      .select(col("src"), col("doc_id").as("dst"))
      .distinct()
  }

  /** Published cluster-table registry: corpus dir → published path,
    * scoped to this JVM (per-run scratch root) — the same
    * publish-once/consume-many shape as the x109 SemDeDup keep-list.
    * FOUR queries consume the gram-overlap clustering (x43/x96/x104/
    * x126); at 100 TB the cluster table is the dedup pipeline's
    * published artifact that downstream passes join against, not a
    * subquery each re-runs. */
  private val publishedClusters =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Build the (doc_id, cluster) table, publish it through the
    * crash-safe WAP path (audit: exactly one row per document), and
    * return a read of the published copy. */
  private def buildAndPublishClusters(s: SparkSession, dir: String): DataFrame =
    publishedClusters.synchronized {
      val docs = load(s, dir, "documents")
      // wordShingleStrings emits distinct grams per doc → count is doc freq
      val grams = docs.select(col("doc_id"),
        explode(graft.functions.TextExpressions.wordShingleStrings(col("text"), 8)).as("gram"))
      val cc = labelPropagation(docs.select(col("doc_id").as("id")),
          starEdges(grams, GramDfCap))
        .select(col("id").as("doc_id"), col("cluster"))
      val key = graft.etl.Sources.dirKey(dir)
      val stage = graft.etl.Sources.scratchPath(s"cc_stage_$key")
      val fin = graft.etl.Sources.scratchPath(s"cc_clusters_$key")
      // the staged row count is observed on the write itself: no read-back
      val written = Observation()
      cc.observe(written, count(lit(1)).as("rows"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage.toString)
      val staged = written.get("rows").asInstanceOf[Long]
      val expected = docs.count()
      if (staged != expected)
        throw new IllegalStateException(
          s"cluster-table audit failed — staged $staged rows != corpus $expected; publish aborted")
      graft.etl.Sources.publishDir(stage, fin)
      publishedClusters.put(dir, fin)
      graft.Tables.readParquet(s, fin.toString)
    }

  /** The cluster table for consumers (x96/x104/x126): the published
    * copy if this JVM already built one for `dir`, else
    * build-and-publish. x43 — the clustering deliverable itself —
    * always rebuilds, so its reported cost stays the build cost. */
  private def docClusters(s: SparkSession, dir: String): DataFrame =
    Option(publishedClusters.get(dir)) match {
      case Some(p) => graft.Tables.readParquet(s, p.toString)
      case None    => buildAndPublishClusters(s, dir)
    }

  def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val cc = buildAndPublishClusters(s, dir)
    val sizes = cc.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster")
      .filter(col("cluster_size") > 1)
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** x96: the dedup pipeline's final deliverable — the KEPT corpus.
    * Clusters every document (singletons included), then keeps the
    * best-quality member per cluster (doc_id breaks ties), so the
    * output is one row per surviving document with its cluster's size.
    * The representative choice is a per-cluster window — partitions are
    * bounded by cluster size (capped upstream by the gram df-cap), so
    * the selection parallelizes over clusters at any corpus scale. */
  def canonicalDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = load(s, dir, "documents")
    val cc = docClusters(s, dir)
    val qs = graft.functions.TextFunctions.qualitySignals(col("text"))
    val members = cc
      .join(docs.select(col("doc_id"), qs.getField("quality").as("quality")), "doc_id")
      .select(col("cluster"), col("doc_id"), col("quality"))
    val byCluster = Window.partitionBy("cluster")
    members
      .withColumn("rn", row_number().over(
        byCluster.orderBy(desc("quality"), col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("kept_doc_id"),
              col("n_members"), col("quality"))
      .orderBy("cluster")
  }

  /** x126: LEAKAGE-FREE train/val/test assignment — the fix for what
    * x79 measures. Doc-level hashing (x41) puts two near-duplicate
    * documents in different splits with probability 2·p·(1−p), and the
    * eval split then scores memorization, not generalization. Here the
    * split hash keys on the near-dup CLUSTER id (x43/x96's connected
    * components; singletons are their own cluster), so every member of
    * a duplicate cluster lands in the SAME split and cross-split
    * duplication is zero BY CONSTRUCTION — the spec re-runs the x79
    * leakage measure on the edge relation and asserts exactly that.
    * Same 90/5/5 integer u32 thresholds as x41, applied to the cluster
    * id; output is the per-doc manifest downstream samplers consume.
    * One CC pass + a stateless per-row hash — the split itself adds no
    * shuffle on top of the clustering. */
  def leakFreeSplits(s: SparkSession, dir: String): DataFrame = {
    val cc = docClusters(s, dir)
    val h = graft.ext.Sampling.u32(col("cluster"))
    cc.select(col("doc_id"), col("cluster"))
      .withColumn("split",
        when(h < lit(3865470566L), "train")   // 0.90 * 2^32, as x41
          .when(h < lit(4080218931L), "val")  // 0.95 * 2^32
          .otherwise("test"))
      .orderBy("doc_id")
  }

  /** x104: cluster-level cross-source redundancy — which crawl sources
    * duplicate EACH OTHER, measured on near-dup clusters rather than
    * raw grams (x50's matrix counts shared vocabulary; this counts
    * actual duplicate documents). Per unordered source pair: how many
    * clusters span both, and how many cross-source doc pairs they
    * contain. The pairing is a cluster-keyed self-join over per-cluster
    * source rollups — bounded by sources-per-cluster (≤ #sources),
    * never by cluster size. */
  def clusterSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val cc = docClusters(s, dir)
    val bySrc = cc.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("cluster", "source").agg(count(lit(1)).as("n"))
    val a = bySrc.select(col("cluster"), col("source").as("source_a"), col("n").as("n_a"))
    val b = bySrc.select(col("cluster"), col("source").as("source_b"), col("n").as("n_b"))
    a.join(b, Seq("cluster")).filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_clusters"),
           sum(col("n_a") * col("n_b")).as("n_doc_pairs"))
      .orderBy("source_a", "source_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x126_leakfree_splits" -> leakFreeSplits,
    "x104_cluster_source_matrix" -> clusterSourceMatrix,
    "x96_dedup_canonical" -> canonicalDocs,
    "x43_dup_clusters" -> dupClusters)

  /** Shared DuckDB CTE prefix ending in `cc(doc_id, cluster)` — the SQL
    * replay of grams → star edges → transitive closure → min-label
    * components, defined ONCE and interpolated into every
    * cluster-consuming oracle (x43/x96/x104/x126) so the four cannot
    * drift. */
  private val ccCtes: String = s"""
      WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
      idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t)-7, 1)+1)) AS i FROM toks),
      grams AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS gram FROM idx),
      gram_roots AS (
        SELECT gram, MIN(doc_id) AS root FROM grams
        GROUP BY gram HAVING COUNT(*) > 1 AND COUNT(*) <= $GramDfCap),
      star AS (
        SELECT r.root AS src, g.doc_id AS dst
        FROM gram_roots r JOIN grams g USING (gram)
        WHERE g.doc_id <> r.root),
      edges AS (SELECT src, dst FROM star UNION SELECT dst, src FROM star),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      cc AS (SELECT a AS doc_id, MIN(b) AS cluster FROM reach GROUP BY a)"""

  val oracles: Map[String, String] = Map(
    "x126_leakfree_splits" -> s"""
      $ccCtes
      SELECT doc_id, cluster,
        CASE WHEN ${graft.ext.Sampling.u32Sql("cluster")} < 3865470566 THEN 'train'
             WHEN ${graft.ext.Sampling.u32Sql("cluster")} < 4080218931 THEN 'val'
             ELSE 'test' END AS split
      FROM cc ORDER BY doc_id""",
    "x104_cluster_source_matrix" -> s"""
      $ccCtes,
      by_src AS (
        SELECT cc.cluster, d.source, COUNT(*) AS n
        FROM cc JOIN documents d USING (doc_id)
        GROUP BY 1, 2)
      SELECT x.source AS source_a, y.source AS source_b,
        COUNT(*) AS n_clusters,
        CAST(SUM(x.n * y.n) AS BIGINT) AS n_doc_pairs
      FROM by_src x JOIN by_src y
        ON x.cluster = y.cluster AND x.source < y.source
      GROUP BY 1, 2 ORDER BY 1, 2""",
    "x96_dedup_canonical" -> s"""
      $ccCtes,
      qb AS (
        SELECT doc_id,
          CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
            / greatest(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                 x -> list_contains(['the','a','and','of','to','in','is','that','it','for','on','with'], x))) AS DOUBLE)
            / greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1) AS stopword_ratio,
          CAST(length(regexp_replace(trim(text), '\\s', '', 'g')) AS DOUBLE)
            / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS avg_token_len,
          least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS length_score
        FROM documents),
      qscore AS (
        SELECT doc_id,
          length_score * 25.0 +
          (1.0 - least(punct_ratio * 5.0, 1.0)) * 25.0 +
          least(stopword_ratio * 4.0, 1.0) * 25.0 +
          (CASE WHEN avg_token_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 25.0 AS quality
        FROM qb),
      ranked AS (
        SELECT cc.cluster, cc.doc_id, q.quality,
          row_number() OVER (PARTITION BY cc.cluster ORDER BY q.quality DESC, cc.doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY cc.cluster) AS n_members
        FROM cc JOIN qscore q USING (doc_id))
      SELECT cluster, doc_id AS kept_doc_id, n_members, quality
      FROM ranked WHERE rn = 1 ORDER BY cluster""",
    "x43_dup_clusters" -> s"""
      $ccCtes,
      sizes AS (SELECT cluster, COUNT(*) AS cluster_size FROM cc GROUP BY 1)
      SELECT cc.doc_id, cc.cluster, s.cluster_size
      FROM cc JOIN sizes s USING (cluster)
      WHERE s.cluster_size > 1
      ORDER BY cc.doc_id""")
}
