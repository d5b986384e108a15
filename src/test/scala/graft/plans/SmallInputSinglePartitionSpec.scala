package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSpec, Tables}
import graft.analytics.Analytics

/** Small file inputs plan as one partition: the report queries on sf0.001
  * run with no shuffle, the guards keep the partitioned plan where one
  * partition would be wrong or slow, and every answer is the same with the
  * rule off (`openCostInBytes=0`) and on. */
class SmallInputSinglePartitionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }

  private def wrapped(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case Repartition(1, false, _) => true
      case _ => false
    }

  private def q(name: String): DataFrame = Analytics.queries(name)(spark, sfDir)

  test("q01 and q03 plan with no shuffle, and q01 runs as one job with no range sampling") {
    for (name <- Seq("q01_monthly_sales", "q03_top_products")) {
      val df = q(name)
      assert(wrapped(df), s"$name: no small input was planned as one partition")
      assert(shuffles(df).isEmpty, s"$name plans a shuffle:\n${df.queryExecution.executedPlan}")
    }
    val (_, jobs) = SparkSpec.jobsStartedBy(spark)(graft.Harness.noop(q("q01_monthly_sales")))
    assert(jobs.size == 1, s"q01 should run as one job, ran: $jobs")
  }

  test("with openCostInBytes=0 the same queries keep their exchanges") {
    withPartitionedInputs {
      val q01 = q("q01_monthly_sales")
      assert(!wrapped(q01))
      assert(shuffles(q01).exists(_.outputPartitioning.toString.startsWith("rangepartitioning")),
        s"q01 lost its range-partitioned sort:\n${q01.queryExecution.executedPlan}")
      assert(shuffles(q("q03_top_products")).nonEmpty)
    }
  }

  test("an explode over a small scan keeps its exchange") {
    val words = Tables.load(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count()
    assert(!wrapped(words))
    assert(shuffles(words).nonEmpty)
  }

  test("a rand() projection is not wrapped") {
    val df = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderstatus"), rand(7).as("r"))
      .groupBy("o_orderstatus").agg(sum("r"))
    assert(!wrapped(df))
    assert(shuffles(df).nonEmpty)
  }

  test("a streaming plan is untouched") {
    val batch = Tables.load(spark, sfDir, "orders").groupBy("o_orderstatus").count()
      .queryExecution.analyzed
    assert(SmallInputSinglePartition(batch) != batch, "the batch twin must be rewritten")
    val streaming = batch.transform { case r: LogicalRelation => r.copy(isStreaming = true) }
    assert(streaming.isStreaming)
    assert(SmallInputSinglePartition(streaming) eq streaming)
  }

  test("report and corpus queries return the same rows with the rule off and on") {
    // aggregated doubles may sum in another order, so they compare to 9
    // significant digits
    def norm(v: Any): Any = v match {
      case d: Double if !d.isNaN && !d.isInfinite && d != 0.0 =>
        BigDecimal(d).round(new java.math.MathContext(9))
      case r: Row => r.toSeq.map(norm)
      case s: scala.collection.Seq[_] => s.map(norm)
      case other => other
    }
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sfDir).collect().map(r => norm(r).toString).toSeq.sorted
    val corpus = Seq("x03_dedup_minhash", "x115_span_dedup", "x43_dup_clusters",
      "x08_sim_topk_lsh", "x90_ann_recall")
    for (name <- Analytics.queries.keys.toSeq.sorted ++ corpus) {
      val on = rows(name)
      val off = withPartitionedInputs(rows(name))
      assert(on == off, s"$name differs with small inputs as one partition")
    }
  }
}
