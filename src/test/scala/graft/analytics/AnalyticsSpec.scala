package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics tests for the reference-parity queries on sf0.001 (the
  * DuckDB hash-compare at sf0.01 is the driver's gate; these pin the
  * *invariants* so refactors fail fast locally). */
class AnalyticsSpec extends SparkSpec {

  test("building every report query starts no Spark job") {
    val (dfs, jobs) = SparkSpec.jobsStartedBy(spark)(
      Analytics.queries.toSeq.sortBy(_._1).map { case (name, q) => name -> q(spark, sfDir) })
    assert(dfs.size == 19)
    assert(jobs.isEmpty, s"building the report queries started job(s): $jobs")
  }

  test("monthlySales: chronologically ordered, only completed orders counted") {
    val rows = Analytics.monthlySales(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val months = rows.map(_.getString(0))
    assert(months.sameElements(months.sorted))
    val totalOrders = rows.map(_.getLong(1)).sum
    val completed = graft.Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderstatus") === "F").count()
    assert(totalOrders == completed)
  }

  test("topProducts returns exactly 10, sorted desc by revenue") {
    val rows = Analytics.topProducts(spark, sfDir).collect()
    assert(rows.length == 10)
    val revs = rows.map(_.getAs[Double]("total_revenue"))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("customerTotals covers every customer; no-completed-orders → (0, 0.0)") {
    val df = Analytics.customerTotals(spark, sfDir)
    val nCust = graft.Tables.load(spark, sfDir, "customer").count()
    assert(df.count() == nCust)
    // any customer absent from completed orders must carry exact zeros
    val zeros = df.filter(col("total_orders") === 0)
    assert(zeros.filter(col("total_spent") =!= 0.0).count() == 0)
  }

  test("profileCustomer: dup_rows = n_rows - distinct_rows and nulls are zero on testdata") {
    val r = Analytics.profileCustomer(spark, sfDir).collect()(0)
    val n = r.getAs[Long]("n_rows")
    val d = r.getAs[Long]("distinct_rows")
    assert(r.getAs[Long]("dup_rows") == n - d)
  }

  test("rulesReport yields one row of four non-negative counts") {
    val r = Analytics.rulesReport(spark, sfDir).collect()(0)
    (0 until 4).foreach(i => assert(r.getLong(i) >= 0))
  }

  test("topPerBrand: at most 2 per brand, rank within brand is 1..2") {
    val rows = Analytics.topPerBrand(spark, sfDir).collect()
    val byBrand = rows.groupBy(_.getString(0))
    byBrand.foreach { case (_, rs) =>
      assert(rs.length <= 2)
      assert(rs.map(_.getAs[Long]("rk")).sorted.sameElements(1L to rs.length))
    }
  }

  test("regionRevenue: revenue of all regions sums to completed-order total") {
    val regions = Analytics.regionRevenue(spark, sfDir).collect()
    val sumRegions = regions.map(_.getAs[Double]("revenue")).sum
    val total = graft.Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderstatus") === "F")
      .agg(sum("o_totalprice")).collect()(0).getDouble(0)
    assert(math.abs(sumRegions - total) < 1.0) // 2dp rounding per region
  }

  test("statusPivot: pivot cells partition the orders table") {
    val out = Analytics.statusPivot(spark, sfDir)
    val cellTotal = out.agg(
      sum(col("n_pending") + col("n_open") + col("n_filled"))).collect()(0).getLong(0)
    val nOrders = graft.Tables.load(spark, sfDir, "orders").count()
    assert(cellTotal == nOrders, s"pivot cells $cellTotal != orders $nOrders")
  }

  test("revenueShare: shares within each region sum to 1 (mod 4dp rounding)") {
    val rows = Analytics.revenueShare(spark, sfDir).collect()
    rows.groupBy(_.getAs[String]("r_name")).foreach { case (r, rs) =>
      val total = rs.map(_.getAs[Double]("revenue_share")).sum
      assert(math.abs(total - 1.0) <= rs.length * 0.0001,
        s"region $r shares sum to $total")
    }
    assert(rows.forall { r =>
      val s = r.getAs[Double]("revenue_share"); s >= 0.0 && s <= 1.0
    })
  }
}
