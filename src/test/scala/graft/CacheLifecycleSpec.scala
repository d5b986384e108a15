package graft

/** After any registry query that caches materializes and the consumer
  * calls [[CacheScope.release]], the session must hold ZERO new persisted
  * RDDs — the blocking unpersist makes the assertion exact, not racy. One
  * query per function that owns a scoped cache. */
class CacheLifecycleSpec extends SparkSpec {

  // one registry query per cache-owning function; together these drive
  // every scopedCache() site in the five ext files
  private val leakSiteQueries = Seq(
    "x78_cms_heavy_hitters",      // Dedup.cmsHeavyHitters
    "x50_source_overlap",         // Dedup.crossSourceOverlap
    "x03_dedup_minhash",          // Dedup.minhashCandidates (both sites)
    "x04_dedup_simhash",          // Dedup.simhashNearDups
    "x05_dedup_ngram_jaccard",    // Dedup.ngramJaccardNearDups
    "x06_dedup_embedding",        // Dedup.embeddingNearDups
    "x08_sim_topk_lsh",           // Similarity.topKLsh
    "x28_sim_topk_ivf",           // Similarity.ivfBuild (3 sites)
    "x154_ivf_index_lifecycle",   // Similarity.ivfLifecycleIndex (2 sites)
    "x109_semdedup",              // Similarity.semDedup + ivfBuild
    "x66_tfidf_terms",            // TextAnalysis.tfidfTerms
    "x47_bigram_lm",              // TextAnalysis.bigramLm
    "x48_inverted_index",         // TextAnalysis.invertedIndex
    "x87_budget_fill",            // TextAnalysis.budgetFill
    "x108_importance",            // Sampling.importanceScores
    "x79_split_leakage")          // Contamination.splitLeakage

  test("every leak-site query leaves zero NEW persisted RDDs after release") {
    leakSiteQueries.foreach { name =>
      val before = persistedIds
      var leaked = Set.empty[Int]
      // measured inside the sink, before Harness.run's clearCache, which
      // would also drop a raw .cache() left outside the scope
      val rec = Harness.run(spark, name, SparkEntry.queries(name)(spark, sfDir), sink = { df =>
        Harness.noop(df)
        ext.Dedup.drainCapLossReports()
        CacheScope.release()
        leaked = persistedIds -- before
      })
      assert(rec.ok, s"$name failed: ${rec.error}")
      assert(leaked.isEmpty,
        s"$name leaked ${leaked.size} persisted RDD(s) after CacheScope.release(): " +
          leaked.mkString(", "))
    }
  }

  test("the scoped cache is LIVE while the query executes (not a no-op)") {
    import CacheScope.ScopedCacheOps
    val before = persistedIds
    val df = spark.range(100).toDF("id").scopedCache()
    df.count()
    assert((persistedIds -- before).nonEmpty,
      "scopedCache must actually cache — the scope only bounds the lifetime")
    CacheScope.release()
    assert((persistedIds -- before).isEmpty)
  }
}
