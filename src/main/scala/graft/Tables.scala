package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** Central table registry for the driver's testdata star schema
  * (TESTDATA.md / FIXTURES.md §B) and the reference's five-table schema
  * (reference main.py:103-192 DDL, re-declared as Spark StructTypes).
  *
  * Design note (scale): loaders take a directory and read parquet with
  * Spark's vectorized reader; explicit schemas below are used for CSV
  * ingestion parity paths (reference main.py:377-400 infers; we declare).
  */
object Tables {

  val testdataTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet loader. The schema comes from one footer, read on the driver
    * by [[readParquet]], so building a query over the table starts no
    * Spark job; column pruning and predicate pushdown apply downstream.
    *
    * TIMESTAMP(NANOS) columns (pandas/arrow default; `events.ts`) are not
    * representable in Spark's microsecond TimestampType, so sessions must
    * set `spark.sql.legacy.parquet.nanosAsLong=true`; we then rebuild the
    * microsecond timestamp here (lossless when sub-µs bits are zero, as
    * in the driver's testdata).
    *
    * Timezone-naive parquet timestamps (isAdjustedToUTC=false) arrive as
    * TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default. The engine's
    * time operators (unix_micros, watermarks, epoch casts) require the
    * instant type, so NTZ columns are normalized to TimestampType here —
    * sessions pin spark.sql.session.timeZone=UTC, making the cast a pure
    * wall-clock reinterpretation that matches a naive-TIMESTAMP oracle
    * bit-for-bit. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    val nanosFixed =
      if (name == "events" && df.schema("ts").dataType == LongType)
        // integer `div`, not `/`: float division of int64 nanos rounds in
        // the 53-bit mantissa and lands ±1µs off the true microsecond
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      else df
    normalizeNtz(nanosFixed)
  }

  /** `spark.read.parquet(path)` with the schema declared from
    * [[parquetSchema]] when the footer settles it: the same relation and
    * plan, without the one-task job Spark's inference starts. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    parquetSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  /** The schema `spark.read.parquet(path)` infers, read on the
    * driver instead of in a Spark job (`mergeSchemasInParallel`). Spark
    * reads one footer: the `_common_metadata` or `_metadata` summary if
    * the directory has one, else its first data file by sorted path; it
    * converts it with the session's binaryAsString, int96AsTimestamp,
    * inferTimestampNTZ, nanosAsLong and respectUnknownTypeAnnotation
    * flags. This does the same, and reads the footer again on every call.
    *
    * `None` leaves the decision to Spark's own inference, and its error:
    * a glob, a missing path, a partitioned or nested directory, schema
    * merging on, no data file, or a footer that does not read or convert. */
  def parquetSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_))) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    // Spark's listing skips these names (HadoopFSUtils.shouldFilterOutPathName)
    def hidden(name: String) =
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))
    try {
      val fs = root.getFileSystem(hadoopConf)
      val leaves =
        if (!fs.exists(root)) Nil
        else if (fs.getFileStatus(root).isFile) Seq(fs.getFileStatus(root))
        else fs.listStatus(root).toSeq.filterNot(f => hidden(f.getPath.getName))
          .sortBy(_.getPath.toString)
      val summaries = Seq("_common_metadata", "_metadata")
      def named(n: String) = leaves.find(_.getPath.getName == n)
      if (leaves.exists(_.isDirectory)) None
      else summaries.flatMap(named).headOption
        .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
        .map { f =>
          val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS))
          ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
            .toNullable // as the relation Spark builds reads every column
        }
    } catch { case NonFatal(_) => None }
  }

  /** Cast every TIMESTAMP_NTZ column to the session-TZ instant type (a
    * no-op frame when none exist, so non-temporal tables pay nothing). */
  def normalizeNtz(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case StructField(n, TimestampNTZType, _, _) => n
    }
    ntz.foldLeft(df)((d, n) =>
      d.withColumn(n, d.col(n).cast(TimestampType)))
  }

  /** Scale-adaptive scan parallelization for HEAVY per-row kernels
    * (media payload construction/decode, tokenize+explode passes).
    *
    * The driver's testdata parquet is one row group per file, so every
    * scan is ONE task and a narrow pipeline above it runs on one core
    * of `local[N]` until its first exchange — the "one huge
    * unsplittable file" case of guide §2.5, whose prescribed fix is
    * repartition-immediately-after-read. At production scale a table
    * arrives as many splits, so the repartition must be CONDITIONAL:
    * only when the scan's actual partition count is below the session's
    * default parallelism (at 100 TB it never is — this is a no-op
    * there, never a second full-corpus shuffle). Round-robin, not
    * keyed: no hash key means no skew and no payload-KEYED exchange
    * (the PlanSpec payload invariants key on hashpartitioning). */
  def parallelScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val cur = df.queryExecution.toRdd.getNumPartitions
    if (cur < target) df.repartition(target) else df
  }

  /** Register every testdata table as a temp view so `spark.sql` works
    * (reference keeps tables in SQLite and queries by name; main.py:648). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    testdataTables.foreach(t => load(spark, dir, t).createOrReplaceTempView(t))

  // ---- Reference-schema StructTypes (main.py:103-192) for CSV parity ----

  val customersSchema: StructType = StructType(Seq(
    StructField("customer_id", LongType, nullable = false),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("email", StringType),
    StructField("phone", StringType),
    StructField("registration_date", StringType), // parsed to DateType in transform (main.py:450)
    StructField("country", StringType),
    StructField("city", StringType),
    StructField("customer_segment", StringType)))

  val productsSchema: StructType = StructType(Seq(
    StructField("product_id", LongType, nullable = false),
    StructField("product_name", StringType),
    StructField("category", StringType),
    StructField("subcategory", StringType),
    StructField("brand", StringType),
    StructField("unit_price", DoubleType),
    StructField("cost_price", DoubleType),
    StructField("stock_quantity", LongType),
    StructField("weight_kg", DoubleType),
    StructField("supplier_id", LongType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("order_id", LongType, nullable = false),
    StructField("customer_id", LongType),
    StructField("order_date", StringType), // parsed to DateType (main.py:475)
    StructField("order_status", StringType),
    StructField("shipping_method", StringType),
    StructField("payment_method", StringType),
    StructField("subtotal", DoubleType),
    StructField("tax_amount", DoubleType),
    StructField("shipping_cost", DoubleType),
    StructField("discount_amount", DoubleType),
    StructField("total_amount", DoubleType),
    StructField("shipping_address", StringType),
    StructField("order_priority", StringType)))

  val orderItemsSchema: StructType = StructType(Seq(
    StructField("item_id", LongType, nullable = false),
    StructField("order_id", LongType),
    StructField("product_id", LongType),
    StructField("quantity", LongType),
    StructField("unit_price", DoubleType),
    StructField("discount_percent", DoubleType),
    StructField("line_total", DoubleType)))

  val etlMetadataSchema: StructType = StructType(Seq(
    StructField("table_name", StringType),
    StructField("source_file", StringType),
    StructField("records_processed", LongType),
    StructField("records_inserted", LongType),
    StructField("records_updated", LongType),
    StructField("processing_time_seconds", DoubleType),
    StructField("data_quality_score", DoubleType),
    StructField("etl_timestamp", TimestampType),
    StructField("checksum", StringType)))

  val referenceSchemas: Map[String, StructType] = Map(
    "customers" -> customersSchema,
    "products" -> productsSchema,
    "orders" -> ordersSchema,
    "order_items" -> orderItemsSchema,
    "etl_metadata" -> etlMetadataSchema)
}
