package graft

import org.apache.spark.sql.functions._

/** Empty-corpus edges: a production pipeline
  * WILL eventually point at an empty partition (fresh day, filtered-out
  * source), and an operator that throws there takes the whole job down.
  * Every driver query must return an empty (or correctly degenerate)
  * frame, never raise. */
class EmptyCorpusSpec extends SparkSpec {

  /** Zero-row copies of the testdata tables, written once per JVM. */
  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_sf_").toString
    Tables.testdataTables.foreach { t =>
      Tables.load(spark, sfDir, t).limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("document operators return empty frames on an empty corpus") {
    assert(ops.GlobalOrder.qualityRank(spark, emptyDir).count() == 0)
    assert(ops.GlobalOrder.shardManifest(spark, emptyDir).count() == 0)
    assert(ext.Sampling.paddingAudit(spark, emptyDir).count() == 0)
    assert(ext.Sampling.ppsSample(spark, emptyDir).count() == 0)
    assert(ext.TextAnalysis.noveltyScores(spark, emptyDir).count() == 0)
    assert(ext.TextAnalysis.vocabGrowth(spark, emptyDir).count() == 0)
    assert(ops.ConnectedComponents.canonicalDocs(spark, emptyDir).count() == 0)
  }

  test("event operators return empty frames on an empty event log") {
    assert(analytics.EventAnalytics.dailySpine(spark, emptyDir).count() == 0)
    assert(ops.Skew.skewReport(spark, emptyDir).count() == 0)
  }

  test("schema evolution and the idempotent sink tolerate zero rows") {
    assert(etl.Sources.schemaEvolutionRoundtrip(spark, emptyDir).count() == 0)
    assert(streaming.EventStreams.idempotentSinkReplay(spark, emptyDir).count() == 0)
    assert(streaming.EventStreams.incrementalAggReplay(spark, emptyDir).count() == 0)
  }

  test("ANN recall audit returns no rows when there are no queries") {
    assert(ext.Similarity.annRecall(spark, emptyDir).count() == 0)
  }

  test("EVERY registered query tolerates an empty corpus (registry-wide no-throw)") {
    // the named tests above pin exact degenerate shapes for the ops
    // where that matters; this invariant is the floor for the WHOLE
    // surface: a fresh day / filtered-out source must never crash any
    // query. Failures are collected and reported together so one bad
    // operator doesn't mask the rest.
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val rec = Harness.run(spark, name, fn(spark, emptyDir), sink = _.count())
      rec.error.map(e => s"$name: ${e.linesIterator.take(1).mkString.take(160)}")
    }
    assert(failures.isEmpty,
      s"${failures.size} queries throw on an empty corpus:\n  ${failures.mkString("\n  ")}")
  }
}
