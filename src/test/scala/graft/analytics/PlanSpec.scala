package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audits: the properties that make these queries survive
  * a 100× scale-up are asserted here so a refactor that silently loses
  * pushdown/broadcast/top-k fails the build, not the cluster. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("monthlySales pushes the status filter into the parquet scan") {
    val p = plan(Analytics.monthlySales(spark, sfDir))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(o_orderstatus,F)"),
      s"status filter not pushed:\n$p")
  }

  test("pricingSummary pushes the shipdate bound and aggregates partially") {
    val p = plan(Analytics.pricingSummary(spark, sfDir))
    assert(p.contains("LessThanOrEqual(l_shipdate"), "shipdate not pushed")
    assert(p.contains("HashAggregate"), "no hash aggregation")
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
  }

  test("lineTotals prunes the lineitem scan to the 5 referenced columns") {
    val p = plan(Analytics.lineTotals(spark, sfDir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_discount"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_comment"),
      s"scan reads unused columns: $readSchema")
  }

  test("topProducts broadcasts the part dim and plans a top-k, not a global sort") {
    val df = Analytics.topProducts(spark, sfDir)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), "part dim not broadcast")
    assert(p.contains("TakeOrderedAndProject"), "ORDER BY+LIMIT not planned as top-k")
  }

  test("regionRevenue broadcasts every dim (only the fact shuffles)") {
    val p = plan(Analytics.regionRevenue(spark, sfDir))
    // formatted mode lists each operator in the tree AND the detail
    // section — 3 joins ⇒ 6 mentions
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 3, s"expected 3 broadcast joins, got $broadcasts")
    assert(!p.contains("SortMergeJoin"), "dim join degenerated to sort-merge")
  }

  test("customerTotals is one shuffle: agg on o_custkey then join") {
    val p = plan(Analytics.customerTotals(spark, sfDir))
    assert(p.contains("HashAggregate"))
    // completed-orders filter reaches the orders scan
    assert(p.contains("EqualTo(o_orderstatus,F)"), "status filter not pushed")
  }

  test("minhash near-dup candidate generation is a hash join on band keys, never a product") {
    val p = graft.ext.Dedup.minhashNearDups(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "minhash pipeline degenerated to a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "minhash pipeline uses a nested-loop join")
  }

  test("LSH ANN candidate generation never plans a product join") {
    val p = graft.ext.Similarity.topKLsh(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "LSH ANN degenerated to a product join")
  }

  test("stratified sampling is a stateless scan-level filter (no shuffle, no window)") {
    val p = plan(graft.ext.Sampling.stratifiedSample(spark, sfDir))
    assert(!p.contains("Window"), "per-row sampling must not need a window")
    // only the output orderBy may exchange; candidate selection itself is a filter
    assert(p.contains("Filter"), "no filter stage found")
  }

  test("mixture sampling broadcasts the quota side (strata table is tiny)") {
    val p = plan(graft.ext.Sampling.mixtureSample(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"quota join not broadcast:\n$p")
  }

  test("contamination pipeline is hash joins only, never a product") {
    val p = graft.ext.Contamination.benchmarkContamination(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "contamination degenerated to a product join")
  }

  test("capped dedup self-joins stay hash joins (simhash, jaccard, embedding)") {
    for (q <- Seq(
        graft.ext.Dedup.simhashNearDups(spark, sfDir),
        graft.ext.Dedup.ngramJaccardNearDups(spark, sfDir),
        graft.ext.Dedup.embeddingNearDups(spark, sfDir))) {
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        "capped dedup pipeline degenerated to a product join")
    }
  }

  test("snapshot diff is a single full-outer join on the key") {
    val p = plan(graft.ops.SnapshotDiff.snapshotDiffQuery(spark, sfDir))
    assert(p.contains("FullOuter"), s"expected one full-outer join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("exact dedup shuffles on the content hash, never the text payload") {
    val p = withPartitionedInputs(plan(graft.ext.Dedup.exactDedup(spark, sfDir)))
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, s"no exchange found:\n$p")
    assert(!exchanges.exists(_.contains("text#")),
      s"dedup exchange keys on the text payload:\n${exchanges.mkString("\n")}")
  }

  test("media dedup never shuffles the binary payload") {
    val p = graft.multimodal.Multimodal.mediaDedup(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("payload#")),
      s"media dedup exchange carries payload key:\n${exchanges.mkString("\n")}")
  }

  test("simhash and embedding dedup compute bucket sizes without a window exchange") {
    for (q <- Seq(graft.ext.Dedup.simhashNearDups(spark, sfDir),
                  graft.ext.Dedup.embeddingNearDups(spark, sfDir))) {
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("Window"),
        "low-cardinality bucket sizes must use the broadcast agg-join, not a window")
    }
  }

  test("quality signals run inside WholeStageCodegen with no interpreted HOF") {
    import org.apache.spark.sql.functions.col
    val df = graft.Tables.load(spark, sfDir, "documents")
      .select(graft.functions.TextFunctions.qualitySignals(col("text")).as("qs"))
    val p = plan(df)
    val projLine = p.linesIterator
      .find(l => l.contains("Project") && l.contains("codegen id")).getOrElse("")
    assert(projLine.nonEmpty, s"quality signals fell out of codegen:\n$p")
    // the x12 query shape must not re-introduce a lambda-based filter
    val x12 = graft.ext.TextAnalysis.qualityScores(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!x12.contains("lambdafunction") && !x12.contains("ArrayFilter"),
      "x12 plan contains an interpreted higher-order function")
  }

  test("quality-weighted sampling is a scan-level filter (no shuffle before selection)") {
    val p = plan(graft.ext.TextAnalysis.qualityWeightedSample(spark, sfDir))
    assert(!p.contains("Window"), "per-row weighted sampling must not need a window")
    assert(p.contains("Filter"), "no filter stage found")
    // selection needs no aggregate — only the output orderBy may exchange
    assert(!p.contains("HashAggregate"), "weighted sampling must not aggregate")
  }

  test("redaction and repetition stats run inside WholeStageCodegen") {
    // the projection alone (the queries add an orderBy whose AQE wrapper
    // hides codegen ids until execution)
    import org.apache.spark.sql.functions.col
    val df = graft.Tables.load(spark, sfDir, "documents")
      .select(graft.functions.TextFunctions.dupTokenRatio(col("text")).as("d"),
              graft.functions.TextFunctions.topTokenRatio(col("text")).as("t"))
    val p = plan(df)
    val projLine = p.linesIterator
      .find(l => l.contains("Project") && l.contains("codegen id")).getOrElse("")
    assert(projLine.nonEmpty, s"text stats fell out of codegen:\n$p")
  }

  test("tfidf scans the corpus once and aggregates with map-side partials") {
    val df = graft.ext.TextAnalysis.tfidfTerms(spark, sfDir)
    val p = plan(df)
    assert(p.contains("partial_count"), "tf aggregate lost map-side combine")
    assert(!p.contains("CartesianProduct"), "tfidf planned a cartesian product")
    // tf is cached and consumed twice (df aggregate + score join): both
    // consumers must read the InMemoryRelation, not re-run the tokenize
    // lineage. Formatted mode mentions each operator twice (tree +
    // detail), so 2 cache consumers = 4 mentions — >= 2 would pass with
    // a single consumer and miss the re-scan regression.
    val cacheReads = "InMemoryTableScan".r.findAllIn(p).size
    assert(cacheReads >= 4, s"tf cache not reused by both consumers:\n$p")
    // df must NOT be a window partitioned by token (hot-token window
    // skew is un-splittable by AQE; the join is). The simple-mode plan
    // prints each window's partition spec; only the per-doc rank window
    // may appear.
    val simple = graft.ext.TextAnalysis.tfidfTerms(spark, sfDir)
      .queryExecution.executedPlan.toString
    val tokenWindow = "Window .*\\[token#".r.findFirstIn(simple)
    assert(tokenWindow.isEmpty, "df computed by a token-partitioned window")
  }

  test("hard negatives broadcast the query side (corpus streams once)") {
    val p = graft.ext.Similarity.hardNegatives(spark, sfDir)
      .queryExecution.executedPlan.toString
    // inequality-only join condition ⇒ nested loop is expected, but it
    // MUST be the broadcast variant (tiny query side), never a product
    assert(p.contains("BroadcastNestedLoopJoin"), "query side not broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("temperature weights: no window, quota math on a broadcast 1-row total") {
    val p = plan(graft.ext.Sampling.temperatureWeights(spark, sfDir))
    assert(!p.contains("Window"), "weight computation must not need a window")
    assert(p.contains("HashAggregate"), "per-source aggregate missing")
  }

  test("revenue share broadcasts all dims; only fact + group keys shuffle") {
    val p = plan(Analytics.revenueShare(spark, sfDir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 3, s"expected 3 broadcast dim joins, got $broadcasts")
    assert(!p.contains("SortMergeJoin"), "dim join degenerated to sort-merge")
  }

  test("status pivot is one scan + one aggregate pass (no per-status re-scan)") {
    val p = plan(Analytics.statusPivot(spark, sfDir))
    assert(p.contains("partial_count"), "pivot aggregate lost map-side combine")
    // formatted mode mentions each scan twice (tree + detail)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"pivot re-reads orders ($scans scan mentions > 2)")
  }

  test("bucketed range join plans a hash join, never a nested loop over intervals") {
    val p = graft.ops.RangeJoin.windowAudit(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "range join degenerated to a product")
    // the point-side join on __b must be a hash join (broadcast or
    // shuffled) — a BETWEEN join without bucketing would be BNLJ over
    // every (point, interval) pair
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no hash join on bucket ids:\n$p")
  }

  test("KMV and CMS sketches aggregate without any window (no per-key sort path)") {
    // both sketches were designed around map-side-combining aggregates;
    // a refactor back to a row_number/count window would re-introduce
    // the un-splittable per-key partition (the tfidf lesson)
    for (q <- Seq(
        graft.ext.Dedup.kmvDistinct(spark, sfDir),
        graft.ext.Dedup.cmsHeavyHitters(spark, sfDir))) {
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"sketch fell back to a window:\n$p")
    }
  }

  test("incremental aggregate maintenance keeps map-side partials on both stages") {
    val p = plan(graft.ops.SnapshotDiff.incrementalAggQuery(spark, sfDir))
    assert(p.contains("partial_sum"), "merge stage lost map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("sketch expressions run inside WholeStageCodegen") {
    import org.apache.spark.sql.functions.{array, col, length, lit}
    import graft.functions.{BloomProbe, TextExpressions => T, TextFunctions, VectorExpressions => V}
    val text = col("text")
    val sh = TextFunctions.shingleHashes(text, 3)
    val vec = array(lit(1.5), lit(-2.0), length(text).cast("double"))
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(16)
    bloom.putString("the")
    // every kernel whose generated code is the CallbackCodegen callback
    val kernels = Seq(
      T.wordShingleStrings(text, 2), T.wordShinglePositional(text, 2),
      T.fingerprintSketch(text, 2, 3), sh, T.simHashPortable(TextFunctions.tokens(text)),
      T.qualitySignals(text), T.tokenStats(text),
      T.piiRedactionStats(text, "[a-z]+@[a-z]+", "[0-9]{3}"),
      T.coveredTokenCount(array(lit(0L), lit(2L)), length(text).cast("long"), 3),
      T.repetitionStats(text), T.langId(text), T.winnowedPositional(text, 2, 3),
      T.tokenCounts(text), T.bigramCounts(text),
      V.jaccardLongSize(sh, sh), V.md5Prefix60(text), V.quantAudit(vec), V.int8Quantize(vec),
      BloomProbe.bloomMightContain(bloom, text))
    val df = graft.Tables.load(spark, sfDir, "documents")
      .select(kernels.zipWithIndex.map { case (k, i) => k.as(s"k$i") }: _*)
    val p = plan(df)
    // formatted mode tags codegen'd operators "(n) Project [codegen id : N]"
    // in the detail section
    val projLine = p.linesIterator
      .find(l => l.contains("Project") && l.contains("codegen id")).getOrElse("")
    assert(projLine.nonEmpty, s"sketch projection fell out of codegen:\n$p")
    // a generated body that does not compile must fail here, not fall
    // back to interpreted evaluation
    val strict = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prev = strict.map { case (k, _) => k -> spark.conf.getOption(k) }
    strict.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(df.collect().length == graft.Tables.load(spark, sfDir, "documents").count())
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("daily spine joins a broadcast spine — corpus size never drives the join") {
    val p = EventAnalytics.dailySpine(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"spine not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "spine join degenerated to sort-merge")
  }

  test("skew report broadcasts the 1-row totals and plans top-10 as TakeOrdered") {
    val p = graft.ops.Skew.skewReport(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "totals frame not broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-10 planned as a global sort")
  }

  test("ANN recall audit stays on hash/broadcast joins, never a product over the corpus") {
    val p = graft.ext.Similarity.annRecall(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "recall audit degenerated to a cartesian")
  }

  test("shard manifest windows are bucket-partitioned (no global sort of the corpus)") {
    val p = graft.ops.GlobalOrder.shardManifest(spark, sfDir)
      .queryExecution.executedPlan.toString
    val rowNumberWindows = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("row_number")).toSeq
    assert(rowNumberWindows.nonEmpty &&
      rowNumberWindows.forall(_.contains("__go_bucket")),
      s"corpus-scale window lost its bucket partitioning:\n$p")
  }

  test("PPS sampling's running total is bucket-partitioned, totals broadcast") {
    val p = graft.ext.Sampling.ppsSample(spark, sfDir)
      .queryExecution.executedPlan.toString
    val sumWindows = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("sum(")).toSeq
    assert(sumWindows.nonEmpty && sumWindows.forall(_.contains("__go_bucket")),
      s"prefix sum lost its bucket partitioning:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "total-weight frame not broadcast")
  }

  test("split drift broadcasts split totals and plans top-50 as TakeOrdered") {
    val p = graft.ext.Sampling.splitTermDrift(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), "top-50 planned as a global sort")
    assert(!p.contains("CartesianProduct"), "drift audit degenerated to a cartesian")
  }

  test("OOV audit broadcasts the frozen vocab; tokens shuffle only on the rollup key") {
    val p = plan(graft.ext.TextAnalysis.oovAudit(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "vocab join not broadcast")
    assert(p.contains("TakeOrderedAndProject"), "vocab top-K planned as a global sort")
    assert(!p.contains("SortMergeJoin"), "token stream shuffled on the token")
  }

  test("importance scorer broadcasts the capped feature table and the totals") {
    val p = plan(graft.ext.Sampling.importanceScores(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "feature table not broadcast")
    assert(p.contains("TakeOrderedAndProject"), "feature cap planned as a global sort")
    assert(!p.contains("CartesianProduct"), "scorer degenerated to a cartesian")
  }

  test("fluency scoring joins are keyed, never a product; LM tables aggregate partially") {
    val p = plan(graft.ext.TextAnalysis.fluencyScoresFor(
      graft.Tables.load(spark, sfDir, "documents")))
    graft.CacheScope.release()
    assert(!p.contains("CartesianProduct"), "LM scoring degenerated to a product")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "bigram/context joins are not keyed joins")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "doc-bigram aggregation lost its map-side combine")
  }

  test("leak-free splits consume the PUBLISHED cluster table (no clustering jobs in-plan)") {
    // first call may build+publish; the returned frame must then be a
    // stateless scan + hash of the published copy — recomputing the
    // label-propagation chain per consumer is exactly what the
    // publish-once shape removes
    val p = plan(graft.ops.ConnectedComponents.leakFreeSplits(spark, sfDir))
    assert(p.contains("Scan parquet"), "splits do not read the published table")
    assert(!p.contains("Join"),
      s"consumer plan re-derives the clustering instead of scanning it:\n$p")
  }

  test("semdedup pairs are a hash join on the cluster key, never a product") {
    // assert the COMPUTE frame: the public semDedup returns a scan of
    // the WAP-published copy (plan = read + sort, no joins by design)
    val p = plan(graft.ext.Similarity.semDedupCompute(spark, sfDir))
    assert(!p.contains("CartesianProduct"), "pair generation degenerated to a product")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "cluster pair join is not a keyed join")
  }

  test("approximate assignment broadcasts both centroid frames, never a product") {
    // the coarse-seed scan and the in-bucket fine argmax both join
    // against nlist-bounded frames — they must ride broadcast (the
    // corpus-side never shuffles for them); the probe window is the
    // only vec-keyed exchange and carries compact rows by construction
    val p = plan(graft.ext.Similarity.semAssignApprox(spark, sfDir))
    assert(!p.contains("CartesianProduct"),
      s"assignment degenerated to an unbroadcast product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "centroid frames do not ride broadcast")
  }

  test("quantization audit is one scan, no shuffle, no join") {
    val p = plan(graft.ext.Similarity.quantizationAudit(spark, sfDir))
    // the display orderBy's range partitioning is the only exchange —
    // no hash shuffle anywhere (formatted mode puts the partitioning on
    // the Exchange node's Arguments line)
    assert(!p.contains("hashpartitioning"),
      s"audit hash-shuffles before the display sort:\n$p")
    assert(!p.contains("Join"), "audit should not join anything")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1,
      s"more than the single display-sort exchange:\n$p")
  }

  test("dedup recall audit broadcasts the sample (no unkeyed join over the corpus)") {
    val p = plan(graft.ext.Dedup.minhashRecallAudit(spark, sfDir))
    assert(!p.contains("CartesianProduct"),
      "sample all-pairs degenerated to an unbroadcast product")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "sample side not broadcast")
  }

  test("curriculum manifest windows are stratum- or bucket-partitioned, never global") {
    val p = graft.ops.GlobalOrder.curriculumManifest(spark, sfDir)
      .queryExecution.executedPlan.toString
    val windows = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("row_number")).toSeq
    assert(windows.nonEmpty, "expected row_number windows in the plan")
    assert(windows.forall(l => l.contains("__go_bucket") || l.contains("band")),
      s"a corpus-scale window lost its partitioning:\n${windows.mkString("\n")}")
  }

  test("COUNT(DISTINCT string) rewrites to the 24-byte hash pair (hash-first rule)") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val q = docs.agg(org.apache.spark.sql.functions.count_distinct(
      org.apache.spark.sql.functions.col("text")).as("n"))
    val p = q.queryExecution.optimizedPlan.toString
    assert(p.contains("xxhash64") && p.contains("md5"),
      s"hash-first distinct rule did not fire:\n$p")
    // value unchanged: compare against a groupBy shape the rule can't touch
    val expected = docs.groupBy("text").count().count()
    assert(q.head().getLong(0) == expected)
    // non-string distinct counts are left alone
    val pLong = docs.agg(org.apache.spark.sql.functions.count_distinct(
        org.apache.spark.sql.functions.col("doc_id")))
      .queryExecution.optimizedPlan.toString
    assert(!pLong.contains("xxhash64"), "rule must not touch non-string distincts")
  }

  test("bucketed join is co-located: zero exchanges with broadcast disabled") {
    val (ordersT, custT) = graft.etl.Sources.bucketedTables(spark, sfDir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the sort-merge path: with broadcast on, a tiny dim would hide
    // whether the bucket layout actually carries the join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = graft.etl.Sources.bucketedJoinFrame(spark, ordersT, custT)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles — bucket spec not picked up:\n$p")
      // and the result is the plain logical join's result
      assert(j.count() ==
        graft.Tables.load(spark, sfDir, "orders")
          .join(graft.Tables.load(spark, sfDir, "customer"),
            org.apache.spark.sql.functions.col("o_custkey") ===
              org.apache.spark.sql.functions.col("c_custkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pmiCollocations broadcasts the vocab marginals; nothing sort-merges") {
    val p = graft.ext.TextAnalysis.pmiCollocations(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 2,
      s"both unigram-marginal joins must broadcast (saw $broadcasts):\n$p")
    assert(!p.contains("CartesianProduct"), "scalar totals must broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"a vocab-bounded marginal shuffled into a sort-merge join:\n$p")
  }

  test("bpeMerges: winner rows broadcast into the merge; no join shuffles") {
    val p = graft.ext.TextAnalysis.bpeMerges(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    // each iteration's 1-row argmax joins the word table via a broadcast
    // nested-loop (crossJoin), never a cartesian or a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"merge winner not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"merge path shuffles a join:\n$p")
  }

  test("bpeEncodeAudit: rules broadcast over the per-source vocab; no join shuffles") {
    val p = graft.ext.TextAnalysis.bpeEncodeAudit(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    // training winners AND the three sentinel-wrapped application rules
    // all ride broadcast nested-loops over the vocab-bounded table
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"merge rule not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"encode path shuffles a join:\n$p")
  }

  test("bm25: corpus scalars broadcast; term joins keyed, never a product") {
    val p = graft.ext.Retrieval.bm25Retrieval(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    // N/total_tf ride 1-row broadcast joins; query-term and df/dl joins
    // are keyed on token/doc_id (the inverted-index shape) — a product
    // would mean the postings frame lost its key
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"corpus scalars not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a retrieval join degenerated to a cartesian:\n$p")
    // champion-list candidate generation: the per-term top-M runs as
    // the salted two-phase window (token+salt bucket first, then
    // token) so a stop-word term's postings never collapse into a
    // single window partition — both partitionings must appear
    assert(p.contains("pmod"),
      s"salted champion pre-window missing (single-partition stop-word risk):\n$p")
    val windows = p.linesIterator.count(_.contains("Window"))
    assert(windows >= 3, // two champion phases + the per-query rank
      s"expected the two-phase champion windows + rank window, got $windows:\n$p")
  }

  test("hybridRrf: dense queries broadcast; no cartesian anywhere") {
    val p = graft.ext.Retrieval.hybridRrf(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"dense query frame not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a fusion join degenerated to a cartesian:\n$p")
  }

  test("mmrDiversify: queries broadcast; selection loop never a product") {
    // the corpus-sized work all lives in the candidate pool: the query
    // frame must ride a broadcast non-equi join, never a cartesian
    val cp = graft.ext.Retrieval.mmrCandidates(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(cp.contains("BroadcastNestedLoopJoin"),
      s"query frame not broadcast:\n$cp")
    assert(!cp.contains("CartesianProduct"),
      s"candidate scan degenerated to a cartesian:\n$cp")
    // the selection rounds materialize per-round picks (the
    // exponential-plan guard) — the final frame is a union of
    // checkpointed pool-sized frames, no product anywhere
    val p = graft.ext.Retrieval.mmrDiversify(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    assert(!p.contains("CartesianProduct"),
      s"a selection join degenerated to a cartesian:\n$p")
    assert(p.contains("Union"), s"per-round picks not unioned:\n$p")
  }

  test("pagerank: every iteration a keyed join — no product, no nested loop") {
    val p = graft.ext.Graph.supplyRank(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    // edge build and all unrolled sweeps are equi-joins on
    // orderkey/src; the top-k is TakeOrderedAndProject, not a sort
    assert(!p.contains("CartesianProduct"), s"cartesian in pagerank:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join leaked into pagerank:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k is not a TakeOrderedAndProject:\n$p")
  }

  test("spectral: centered table built once; direction broadcast; no product") {
    val p = graft.ext.Spectral.powerIteration(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    // every power step re-reads the CACHED exploded table — the
    // covariance matrix is never materialized and the corpus is
    // exploded exactly once
    assert(p.contains("InMemoryTableScan"),
      s"centered table not cached across power steps:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a spectral join degenerated to a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"direction/mean frames not broadcast:\n$p")
  }

  test("equalityDeleteRead: merge-on-read is one broadcast anti-join") {
    val p = graft.etl.Sources.manifestEqualityDeleteRead(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    // the delete key frames are tiny by contract — the merge must ride
    // a broadcast LeftAnti, never a shuffled join against the table
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"merge-on-read not a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"delete merge shuffled the table:\n$p")
  }

  test("retrievalEval: label attach builds against the broadcast top-k") {
    val p = graft.ext.Retrieval.retrievalEval(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    // the corpus-sized label table joins the ≤|Q|·k candidate frame
    // broadcast, and nothing in the metric chain is a product
    assert(p.contains("BroadcastHashJoin"),
      s"label attach not a broadcast build:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a metric join degenerated to a cartesian:\n$p")
  }

  test("perceptual dedup (image + audio + color + incremental): payloads never shuffle, pair joins never a product") {
    for (q <- Seq(
        graft.multimodal.Multimodal.mediaPerceptualDedup(spark, sfDir),
        graft.multimodal.Multimodal.audioPerceptualDedup(spark, sfDir),
        graft.multimodal.Multimodal.colorPerceptualDedup(spark, sfDir),
        // x163: the publish happens on construction; the asserted plan
        // is the delta-vs-snapshot join — same exchange contract
        graft.multimodal.Multimodal.incrementalPerceptualDedup(spark, sfDir))) {
      val p = q.queryExecution.executedPlan.toString
      graft.CacheScope.release()
      // decode/resize/hash are narrow; only (media_id, 8-byte dh) rows
      // may reach an exchange — a payload-keyed exchange means the
      // binary column leaked into the banding
      val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
      assert(exchanges.nonEmpty && !exchanges.exists(e =>
          e.contains("payload#") || e.contains("pixels#")),
        s"perceptual dedup exchange carries a binary column:\n${exchanges.mkString("\n")}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        "banded pair join degenerated to a product")
    }
  }

  test("shard assignment: windows stratum-partitioned, quotas broadcast, text never shuffles") {
    val p = graft.ext.Sampling.shardAssignment(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the running token total partitions by source (the x33 strata
    // trade) — an unpartitioned window here would sort the corpus
    // through one task at 100 TB
    val sumWindows = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("sum(")).toSeq
    assert(sumWindows.nonEmpty && sumWindows.forall(_.contains("source")),
      s"running total lost its source partitioning:\n${sumWindows.mkString("\n")}")
    // the sources-sized quota frame broadcasts; the corpus never
    // shuffles for it
    assert(p.contains("BroadcastHashJoin"), "quota frame not broadcast")
    assert(!p.contains("CartesianProduct"))
    // text is consumed at the scan projection (tokenCount); an
    // exchange carrying text#. means document payloads started moving
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(!exchanges.exists(_.contains("text#")),
      s"shard assignment shuffles document text:\n${exchanges.mkString("\n")}")
  }

  test("fuzzy contamination rides the capped x03 machinery: hash joins only, never a product") {
    val p = graft.ext.Contamination.fuzzyContamination(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cross-boundary candidate generation degenerated to a product:\n$p")
  }

  test("winnowed span pass: selection is scan-local, exchanges carry hash pairs not gram strings") {
    val p = graft.ext.Contamination.boilerplateSpans(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the winnow runs inside the scan-side projection (an expression,
    // not an exchange), and every gram-keyed exchange partitions on the
    // salted xxhash64 pair — a `gram#` key in an exchange means ~50-byte
    // strings started shuffling again
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, s"no exchange found:\n$p")
    assert(!exchanges.exists(_.contains("gram#")),
      s"span-pass exchange keys on the gram string:\n${exchanges.mkString("\n")}")
    assert(!p.contains("CartesianProduct"))
  }

  test("projectionRecall: queries broadcast; one corpus scan feeds both spaces") {
    val p = graft.ext.Similarity.projectionRecall(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    // the 10-query frame must broadcast against the corpus (the x07
    // shape); full- and projected-space scores are columns of the SAME
    // scored frame, so no second corpus-vs-corpus join may appear
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastHashJoin"),
      s"query frame not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"query join degenerated to a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a fixed-|Q| score join shuffled into sort-merge:\n$p")
  }
}
