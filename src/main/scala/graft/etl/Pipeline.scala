package graft.etl

import java.sql.Timestamp
import java.util.concurrent.{Callable, Executors, Future}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.util.{Failure, Success, Try}

/** E→T→L orchestration (reference AdvancedETLPipeline.run_full_pipeline,
  * main.py:556-609): per-table loads with failure isolation, the load
  * metadata audit, and the post-load customer-totals refresh (J2).
  * Stateless over SparkSession — all state is the output directory's
  * parquet tables.
  */
object Pipeline {

  /** Pipeline metrics (reference main.py:230-235), plus each failed
    * table's error message. */
  case class Metrics(
      tablesProcessed: Int,
      tablesFailed: Int,
      totalRecords: Long,
      qualityScores: Map[String, Double],
      durationsSec: Map[String, Double],
      failures: Map[String, String])

  /** The FK-respecting load order (main.py:570-575). */
  val loadOrder: Seq[String] = Seq("customers", "products", "orders", "order_items")

  /** Run the full pipeline over (csvPath, table) inputs.
    *
    * Each table is parsed once and written once: the CSV scan, the
    * transform and the parquet append are one Spark job, and a
    * `Dataset.observe` on that write collects the row count, the
    * per-column null counts ([[Quality.countExprs]]) and the checksum's
    * sum and xor ([[Sources.checksumExprs]]). Only the exact duplicate
    * count reads data back, from the files this write added. An input
    * with no data rows fails its table with `No data found in file`,
    * and the rows it wrote are removed.
    *
    * The tables have no data dependency on each other (the transforms
    * join nothing), so they load concurrently, one pool thread per
    * table (the reference's `parallel_threads`, main.py:21-28); inputs
    * of the same table load in order on its thread. A table failure is
    * recorded and the others go on (main.py:589-596). The
    * customer-totals refresh waits for customers and orders only, and
    * every metadata row is written in one append after the loads. */
  def run(spark: SparkSession, inputs: Seq[(String, String)], outDir: String): Metrics = {
    val tables = inputs.map(_._2).distinct
    val pool = Executors.newFixedThreadPool(math.max(tables.size, 1))
    val results = try {
      val loads: Map[String, Future[Seq[Try[Loaded]]]] = tables.map { table =>
        table -> pool.submit(new Callable[Seq[Try[Loaded]]] {
          def call() = inputs.collect { case (path, `table`) => Try(load(spark, path, table, outDir)) }
        })
      }.toMap
      // Post-load derived update (main.py:598-599 → 612-628).
      def loaded(table: String) = loads.get(table).exists(_.get.exists(_.isSuccess))
      val refresh = Try(if (loaded("customers") && loaded("orders")) updateCustomerTotals(spark, outDir))
      val done = tables.flatMap(t => loads(t).get.map(t -> _))
      val metas = done.collect { case (_, Success(l)) => (l.meta, l.finishedAt) }
      if (metas.nonEmpty) Sources.appendMetadata(spark, outDir, metas)  // audit (main.py:532-551)
      refresh.get
      done
    } finally pool.shutdown()

    val failures = results.collect { case (t, Failure(e)) => t -> String.valueOf(e.getMessage) }
    failures.foreach { case (t, msg) => System.err.println(s"[pipeline] $t failed: $msg") }
    val ok = results.collect { case (_, Success(l)) => l.meta }
    Metrics(ok.size, failures.size, ok.map(_.records_processed).sum,
      ok.map(m => m.table_name -> m.data_quality_score).toMap,
      ok.map(m => m.table_name -> m.processing_time_seconds).toMap,
      failures.toMap)
  }

  /** One table's load: its metadata row and when the load finished. */
  private case class Loaded(meta: Sources.LoadMeta, finishedAt: Timestamp)

  /** E → T → L of one input in one pass; see [[run]]. */
  private def load(spark: SparkSession, path: String, table: String, outDir: String): Loaded = {
    val t0 = System.nanoTime()
    val input = Observation()
    val stats = Observation()
    val raw = Sources.readCsv(spark, path, table)            // E (main.py:581)
      .observe(input, count(lit(1)).as("rows"))
    val transformed = Transforms(table, raw)                  // T (main.py:584)
    val cols = transformed.columns.toSeq
    val exprs = Quality.countExprs(cols) ++ Sources.checksumExprs(cols)
    val added = Sources.appendTable(                          // L (main.py:516-530)
      transformed.observe(stats, exprs.head, exprs.tail: _*), outDir, table)
    if (input.get("rows").asInstanceOf[Long] == 0L) {        // the reference's EmptyDataError
      Sources.removeAppended(spark, outDir, table, added)
      throw new IllegalArgumentException(s"No data found in file: $path")
    }
    val counts = stats.get
    val n = counts("__rows").asInstanceOf[Long]
    val distinct =                                            // quality gate (main.py:512)
      if (n < 2) n
      else spark.read.schema(transformed.schema).parquet(added: _*)
        .agg(Quality.distinctRows(cols)).collect()(0).getLong(0)
    val score = Quality.fromCounts(counts, cols, distinct).score
    val secs = (System.nanoTime() - t0) / 1e9
    Loaded(Sources.LoadMeta(table, path, n, n, 0L, secs, score, Sources.checksumOf(counts)),
      Timestamp.from(java.time.Instant.now()))
  }

  /** The schema of a pipeline table as written, derived on the driver
    * without a Spark job: the transform's output over an empty frame of
    * the table's reference schema, and [[Sources.metadataSchema]] for
    * `etl_metadata`. */
  private[etl] def writtenSchema(spark: SparkSession, table: String): StructType =
    if (table == "etl_metadata") Sources.metadataSchema
    else Transforms(table, spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      graft.Tables.referenceSchemas(table))).schema

  /** A pipeline table read with its written schema declared. */
  private def readOwn(spark: SparkSession, dir: String, table: String): DataFrame =
    Sources.readTable(spark, dir, table, writtenSchema(spark, table))

  /** J2/L3 (main.py:612-628): decorrelated customer-lifetime refresh —
    * completed-order aggregates left-joined back onto customers; absent
    * customers get (0, 0.0) exactly like COUNT/COALESCE(SUM,0) over an
    * empty correlated set. Replaces the customers table through
    * [[Sources.replaceTable]]. */
  def updateCustomerTotals(spark: SparkSession, dir: String): Unit = {
    val cust = readOwn(spark, dir, "customers")
      .drop("total_orders", "total_spent")
    val aggs = readOwn(spark, dir, "orders")
      .filter(col("order_status") === "Completed")
      .groupBy("customer_id")
      .agg(count("order_id").as("total_orders"), sum("total_amount").as("total_spent"))
    val updated = cust.join(aggs, Seq("customer_id"), "left")
      .na.fill(Map("total_orders" -> 0L, "total_spent" -> 0.0))
    Sources.replaceTable(updated, dir, "customers")
  }

  /** Analytics over the loaded reference-schema tables: the three
    * report queries (A1/A2/A3, main.py:642-691) on the pipeline output. */
  def analyticsReport(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val orders = readOwn(spark, dir, "orders")
    val completed = orders.filter(col("order_status") === "Completed")
    val monthly = completed
      .groupBy(date_format(col("order_date"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("total_orders"), sum("total_amount").as("total_revenue"))
      .orderBy("month")
    val segments = readOwn(spark, dir, "customers")
      .groupBy(col("customer_segment"))
      .agg(count(lit(1)).as("customer_count"),
           avg("total_spent").as("avg_spent"),
           sum("total_spent").as("total_revenue"))
      .orderBy(desc("total_revenue"))
    val products = readOwn(spark, dir, "products")
    val items = readOwn(spark, dir, "order_items")
    val topProducts = items
      .join(completed.select("order_id"), "order_id")
      .join(broadcast(products.select("product_id", "product_name", "category")), "product_id")
      .groupBy("product_id", "product_name", "category")
      .agg(sum("quantity").as("total_sold"), sum("line_total").as("total_revenue"))
      .orderBy(desc("total_revenue"))
      .limit(10)
    Map("monthly_sales" -> monthly, "customer_segments" -> segments,
        "top_products" -> topProducts)
  }

  /** Monitoring surface (reference ETLMonitoringDashboard,
    * main.py:820-851): latest runs + trailing-24h aggregate over the
    * metadata table. */
  def pipelineStatus(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val meta = readOwn(spark, dir, "etl_metadata")
    val recent = meta.filter(
      col("etl_timestamp") >= current_timestamp() - expr("INTERVAL 24 HOURS"))
    val latest = recent.orderBy(desc("etl_timestamp")).limit(5)
    val stats = recent.agg(
      avg("processing_time_seconds").as("avg_processing_time"),
      sum("records_processed").as("total_records_processed"),
      avg("data_quality_score").as("avg_quality_score"),
      count(lit(1)).as("total_runs"))
    Map("recent_runs" -> latest, "stats_24h" -> stats)
  }

  /** Optimizer surface (reference ETLOptimizer, main.py:911-948: ANALYZE
    * + per-table size report + static suggestions). Spark's analog:
    * `ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS` feeds
    * Catalyst's cost-based optimizer (join reorder, broadcast decisions
    * from real row counts instead of file-size guesses). Works on
    * catalog tables, so callers `saveAsTable` first; returns the
    * per-table statistics the reference prints. */
  def analyzeTables(spark: SparkSession, tables: Seq[String]): Map[String, (Long, Long)] = {
    tables.map { t =>
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      val stats = spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t))
        .stats
      t -> (stats.flatMap(_.rowCount).map(_.toLong).getOrElse(-1L),
            stats.map(_.sizeInBytes.toLong).getOrElse(-1L))
    }.toMap
  }
}
