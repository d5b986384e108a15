package graft

import org.apache.spark.sql.functions.{col, udf}

/** The query lifecycle every runner shares: what [[Harness.run]] leaves
  * behind, the row count it reports, and its failure and cap paths. */
class HarnessSpec extends SparkSpec {

  test("after run, no new persisted RDD remains and the nonce scratch directory is empty") {
    import CacheScope.ScopedCacheOps
    val before = persistedIds
    val root = new java.io.File(etl.Sources.nonceRoot("harness", sfDir).toUri)
    val rec = Harness.run(spark, "lifecycle", {
      assert(new java.io.File(root, "part").mkdirs())
      spark.range(100).toDF("id").scopedCache()
        .join(spark.range(50).toDF("id").cache(), "id")
    })
    assert(rec.ok && rec.rows == 50L, rec)
    assert((persistedIds -- before).isEmpty)
    assert(!root.exists() && root.getParentFile.list().isEmpty)
  }

  test("rows equals count() for a q-query and an x-query") {
    Seq("q01_monthly_sales", "x10_text_token_stats").foreach { name =>
      val rec = Harness.run(spark, name, SparkEntry.queries(name)(spark, sfDir))
      val n = try SparkEntry.queries(name)(spark, sfDir).count() finally CacheScope.release()
      assert(rec.ok && rec.rows == n, s"$name: $rec vs count() $n")
    }
  }

  test("a throwing query gives ok = false with its message") {
    val rec = Harness.run(spark, "throws", throw new IllegalStateException("no such table"))
    assert(!rec.ok && rec.rows == -1L && rec.error.contains("no such table"), rec)
  }

  test("a query that sleeps past its cap is cancelled within a few seconds") {
    val sleep = udf { (id: Long) => Thread.sleep(60000); id }
    val t0 = System.nanoTime()
    val rec = Harness.run(spark, "sleeps", spark.range(1).select(sleep(col("id"))), cap = Some(1.0))
    assert(!rec.ok, rec)
    assert((System.nanoTime() - t0) / 1e9 < 10.0, rec)
  }
}
