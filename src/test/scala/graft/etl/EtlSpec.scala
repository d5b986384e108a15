package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EtlSpec extends SparkSpec {

  import spark.implicits._

  // -- Quality ---------------------------------------------------------

  test("quality profile: clean frame scores 100") {
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val p = Quality.profile(df)
    assert(p.totalRows == 3 && p.duplicateRows == 0)
    assert(p.nullCounts.values.sum == 0)
    assert(p.score == 100.0)
  }

  test("quality profile: nulls and duplicates lower the score per formula") {
    val df = Seq(
      (Some(1), Some("a")), (Some(1), Some("a")), // dup pair → 1 dup row
      (None, Some("c")), (Some(4), None))          // 2 nulls
      .toDF("id", "v")
    val p = Quality.profile(df)
    assert(p.totalRows == 4 && p.totalColumns == 2)
    assert(p.duplicateRows == 1)
    assert(p.nullCounts.values.sum == 2)
    // (8 cells − 2 missing − 1×2) / 8 × 100 = 50.0  (main.py:68-74)
    assert(p.score == 50.0)
  }

  test("quality profile: empty frame scores 0 (reference would div/0)") {
    val df = Seq.empty[(Int, String)].toDF("id", "v")
    assert(Quality.profile(df).score == 0.0)
  }

  // -- Transforms ------------------------------------------------------

  test("cleanBasic trims strings and drops all-null rows") {
    val df = Seq((Some(1), Some("  a  ")), (None, None), (Some(2), Some("b")))
      .toDF("id", "v")
    val out = Transforms.cleanBasic(df).orderBy("id").collect()
    assert(out.length == 2)
    assert(out(0).getString(1) == "a")
  }

  test("transformCustomers: bad emails dropped, countries standardized, totals zeroed") {
    val df = Seq(
      (1L, "A", "B", "a@x.com", "p", "2024-01-02", "US", "NY", "Regular"),
      (2L, "C", "D", "no-at-sign", "p", "2024-01-03", "UK", "LA", "VIP"),
      (3L, "E", "F", "e@y.com", "p", "2024-01-04", "Germany", "B", "Regular"))
      .toDF("customer_id", "first_name", "last_name", "email", "phone",
            "registration_date", "country", "city", "customer_segment")
    val out = Transforms.transformCustomers(df).orderBy("customer_id").collect()
    assert(out.length == 2)                       // F2 dropped the bad email
    assert(out(0).getAs[String]("country") == "USA")      // P2 mapped
    assert(out(1).getAs[String]("country") == "Germany")  // P2 pass-through
    assert(out(0).getAs[java.sql.Date]("registration_date").toString == "2024-01-02") // P3
    assert(out(0).getAs[Long]("total_orders") == 0L)      // P4
  }

  test("transformProducts: non-positive prices dropped, margin derived, stock clamped") {
    val df = Seq(
      (1L, "P1", 100.0, 60.0, -5L),
      (2L, "P2", 0.0, 10.0, 3L),
      (3L, "P3", 50.0, 25.0, 7L))
      .toDF("product_id", "product_name", "unit_price", "cost_price", "stock_quantity")
    val out = Transforms.transformProducts(df).orderBy("product_id").collect()
    assert(out.length == 2)                       // F3 dropped unit_price=0
    assert(out(0).getAs[Double]("profit_margin") == 40.0) // P5
    assert(out(0).getAs[Long]("stock_quantity") == 0L)    // P6 clamp
    assert(out(1).getAs[Long]("stock_quantity") == 7L)
  }

  test("transformOrders: inconsistent totals and negative money dropped") {
    val base = ("2024-05-05", "Completed")
    val df = Seq(
      (1L, base._1, base._2, 100.0, 8.0, 5.0, 3.0, 110.0),   // consistent
      (2L, base._1, base._2, 100.0, 8.0, 5.0, 3.0, 200.0),   // F5 mismatch
      (3L, base._1, base._2, -1.0, 8.0, 5.0, 3.0, 9.0))      // F4 negative
      .toDF("order_id", "order_date", "order_status", "subtotal",
            "tax_amount", "shipping_cost", "discount_amount", "total_amount")
    val out = Transforms.transformOrders(df).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("transformOrderItems: line-total consistency within 0.01") {
    val df = Seq(
      (1L, 2L, 10.0, 10.0, 18.0),   // 2*10*0.9 = 18 ✓
      (2L, 2L, 10.0, 10.0, 19.0),   // F7 mismatch
      (3L, 0L, 10.0, 0.0, 0.0))     // F6 quantity 0
      .toDF("item_id", "quantity", "unit_price", "discount_percent", "line_total")
    val out = Transforms.transformOrderItems(df).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
  }

  // -- Rules -----------------------------------------------------------

  test("rules: violation counts per table in one scan") {
    val orders = Seq(
      (1L, "2024-01-01", 100.0, 8.0, 5.0, 3.0, 110.0),  // fine
      (2L, "2024-01-01", 100.0, 8.0, 5.0, 3.0, 999.0),  // total mismatch
      (3L, "2099-01-01", 100.0, 8.0, 5.0, 3.0, 110.0))  // future date
      .toDF("order_id", "order_date", "subtotal", "tax_amount",
            "shipping_cost", "discount_amount", "total_amount")
      .withColumn("order_date", to_date(col("order_date")))
    val v = Rules.validate("orders", orders).map(r => r.rule -> r.violations).toMap
    assert(v("order_total_consistency") == 1)
    assert(v("no_future_order_dates") == 1)

    val customers = Seq((1L, "a@b.com"), (2L, "nope"), (3L, null))
      .toDF("customer_id", "email")
    val cv = Rules.validate("customers", customers)
    assert(cv.head.violations == 2) // bad format + NULL both violate (na=False)
  }

  // -- Checksum --------------------------------------------------------

  test("checksum is content-deterministic and order/partition independent") {
    val df1 = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val df2 = Seq((3, "c"), (1, "a"), (2, "b")).toDF("id", "v").repartition(3)
    assert(Sources.checksum(df1) == Sources.checksum(df2))
    val df3 = Seq((1, "a"), (2, "b"), (3, "X")).toDF("id", "v")
    assert(Sources.checksum(df1) != Sources.checksum(df3))
  }

  // -- DataGen invariants ---------------------------------------------

  test("datagen: deterministic, right sizes, invariants hold") {
    val c1 = DataGen.customers(spark, 200)
    val c2 = DataGen.customers(spark, 200).repartition(7)
    assert(c1.count() == 200)
    assert(Sources.checksum(c1) == Sources.checksum(c2)) // partition-independent

    val p = DataGen.products(spark, 100)
    assert(p.filter(col("unit_price") <= col("cost_price")).count() == 0)

    val o = DataGen.orders(spark, 300, 200)
    // totals arithmetically consistent → transformOrders keeps all rows
    assert(Transforms.transformOrders(o).count() == 300)
    val statusShare = o.filter(col("order_status") === "Completed").count().toDouble / 300
    assert(statusShare > 0.55 && statusShare < 0.85) // ~0.7 weight

    val oi = DataGen.orderItems(spark, 300, 100)
    assert(Transforms.transformOrderItems(oi).count() == oi.count())
    val perOrder = oi.groupBy("order_id").count()
    assert(perOrder.filter(col("count") < 1 || col("count") > 5).count() == 0)
  }

  test("scale-slice dates intersect the suite's date predicates") {
    // round-12 ADVICE: the q-series scale twins must exercise the same
    // selectivity regime as the real testdata — a date predicate that
    // keeps nothing (or everything) turns a scale ratio into
    // scan-plus-empty-aggregate. Both suite predicates must cut the
    // generated range PROPERLY on both sides.
    val li = DataGen.lineitemLike(spark, 2000, 500, 100, 10)
    val kept = li.filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp")).count()
    assert(kept > 0 && kept < 2000, s"l_shipdate predicate degenerate: kept $kept of 2000")
    val o = DataGen.ordersLike(spark, 1000, 100)
    val tail = o.filter(col("o_orderdate") > lit("2001-01-01").cast("timestamp")).count()
    assert(tail > 0 && tail < 1000, s"o_orderdate predicate degenerate: kept $tail of 1000")
  }

  test("date-partitioned writes prune partitions on filtered reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    Sources.writePartitionedByDate(ev, dir, "events_part", "ts")

    // physical layout: one directory per day
    val dirs = new java.io.File(s"$dir/events_part.parquet")
      .listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("p_date=")))

    val someDay = dirs.head.stripPrefix("p_date=")
    val read = Sources.readTable(spark, dir, "events_part")
      .filter(col("p_date") === someDay)
    // the filter must show up as a partition filter, not a data filter
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_date"),
      s"partition filter not applied:\n$plan")
    // and row counts agree with an unpartitioned filter
    val expected = ev.filter(to_date(col("ts")) === lit(someDay).cast("date")).count()
    assert(read.count() == expected)
  }

  test("upsertTable merges by key, newest version wins, ties favor updates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val v1 = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("id", "v", "ver")
    Sources.replaceTable(v1, dir, "t")
    val updates = Seq(
      (2L, "b2", 2L),  // newer version → replaces
      (3L, "c2", 1L),  // same version → update side wins
      (4L, "d", 1L))   // new key → inserted
      .toDF("id", "v", "ver")
    Sources.upsertTable(spark, dir, "t", updates, "id", "ver")
    val out = Sources.readTable(spark, dir, "t").orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b2"), (3L, "c2"), (4L, "d")))
  }

  // -- End-to-end pipeline -------------------------------------------

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeFile(path: String, lines: String*): String = {
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    path
  }

  /** The four inputs `DataGen.writeSampleData` writes under `dir`. */
  private def sampleInputs(dir: String): Seq[(String, String)] =
    Pipeline.loadOrder.map(t => (s"$dir/sample_$t", t))

  /** After the refresh every customer's totals equal a direct aggregate
    * over the loaded completed orders, and customers without one carry
    * (0, 0.0). */
  private def assertCustomerTotals(out: String): Unit = {
    val cust = Sources.readTable(spark, out, "customers")
    val orders = Sources.readTable(spark, out, "orders")
      .filter(col("order_status") === "Completed")
    val expect = orders.groupBy("customer_id")
      .agg(count(lit(1)).as("n"), round(sum("total_amount"), 2).as("amt"))
    assert(cust.join(expect, Seq("customer_id")).count() > 0, "no customer has a completed order")
    val joined = cust.join(expect, Seq("customer_id"))
      .filter(col("total_orders") =!= col("n") ||
              abs(col("total_spent") - col("amt")) > 0.01)
    assert(joined.count() == 0, "customer totals disagree with orders aggregate")
    val zero = cust.join(expect, Seq("customer_id"), "left_anti")
    assert(zero.filter(col("total_orders") =!= 0 || col("total_spent") =!= 0.0).count() == 0)
  }

  test("e2e pipeline on DataGen sample CSVs") {
    val in = tempDir("graft-etl-in")
    DataGen.writeSampleData(spark, in)
    val out = tempDir("graft-etl")
    val inputs = sampleInputs(in)
    val m = Pipeline.run(spark, inputs, out)
    assert(m.tablesFailed == 0, s"failed tables: ${m.failures}")
    assert(m.tablesProcessed == 4)
    assert(m.qualityScores.values.forall(s => s > 0 && s <= 100))

    assertCustomerTotals(out)

    // analytics + monitoring surfaces run and return sane shapes
    val rep = Pipeline.analyticsReport(spark, out)
    assert(rep("monthly_sales").count() > 0)
    assert(rep("customer_segments").count() > 0)
    assert(rep("top_products").count() == 10)
    val status = Pipeline.pipelineStatus(spark, out)
    assert(status("stats_24h").collect()(0).getAs[Long]("total_runs") == 4)

    // metadata audit has one row per table with positive quality score
    val meta = Sources.readTable(spark, out, "etl_metadata")
    assert(meta.count() == 4)
    assert(meta.filter(col("data_quality_score") <= 0).count() == 0)

    // the single pass agrees with the separate count, profile and
    // checksum jobs over the same transformed input
    val rows = meta.collect().map(r => r.getAs[String]("table_name") -> r).toMap
    inputs.foreach { case (path, t) =>
      val df = Transforms(t, Sources.readCsv(spark, path, t))
      val n = df.count()
      val score = Quality.profile(df).score
      assert(rows(t).getAs[Long]("records_processed") == n, t)
      assert(rows(t).getAs[Double]("data_quality_score") == score, t)
      assert(rows(t).getAs[String]("checksum") == Sources.checksum(df), t)
      assert(m.qualityScores(t) == score, t)
    }
    assert(m.totalRecords == rows.values.map(_.getAs[Long]("records_processed")).sum)

    // the reports read every table with its declared schema; it must be
    // the schema the files carry, and the footer read gives Spark's own
    (Pipeline.loadOrder :+ "etl_metadata").foreach { t =>
      def fields(st: org.apache.spark.sql.types.StructType) = st.fields.map(f => f.name -> f.dataType).toSeq
      assert(fields(Pipeline.writtenSchema(spark, t)) == fields(Sources.readTable(spark, out, t).schema), t)
      val path = s"$out/$t.parquet"
      assert(graft.Tables.parquetSchema(spark, path).map(_.fields.toSeq) ==
        Some(spark.read.parquet(path).schema.fields.toSeq), t)
    }

    // the refresh promoted its staged copy and left nothing beside it
    assert(new java.io.File(out).list().sorted.toSeq ==
      (Pipeline.loadOrder :+ "etl_metadata").map(t => s"$t.parquet").sorted)
  }

  test("pipeline quality equals Quality.profile with duplicates and nulls; a rerun counts only its own rows") {
    val in = tempDir("graft-etl-dups")
    val inputs = Seq(
      (writeFile(s"$in/customers.csv",
        "customer_id,first_name,last_name,email,phone,registration_date,country,city,customer_segment",
        "1,Ann,Lee,ann@x.com,555-1,2024-01-02,US,Boston,Premium",
        "1,Ann,Lee,ann@x.com,555-1,2024-01-02,US,Boston,Premium",
        "2,Bob,Ng,bob@x.com,,2024-02-03,UK,,Regular",
        "3,Cy,Oh,cy@x.com,555-3,,Germany,Berlin,",
        "4,Di,Pe,no-at-sign,555-4,2024-03-04,US,NYC,Regular"), "customers"),
      (writeFile(s"$in/products.csv",
        "product_id,product_name,category,subcategory,brand,unit_price,cost_price,stock_quantity,weight_kg,supplier_id",
        "10,Widget,Tools,Hand,Acme,9.99,5.00,10,1.5,7",
        "10,Widget,Tools,Hand,Acme,9.99,5.00,10,1.5,7",
        "11,Gadget,Tools,,Acme,19.99,12.00,-3,,7",
        "12,Broken,Tools,Hand,Acme,0,1.00,1,1.0,7"), "products"),
      // every row fails a transform rule: the table loads with no rows
      (writeFile(s"$in/orders.csv",
        "order_id,customer_id,order_date,order_status,shipping_method,payment_method," +
          "subtotal,tax_amount,shipping_cost,discount_amount,total_amount,shipping_address,order_priority",
        "100,1,2024-04-01,Completed,Ground,Card,-5.0,0.0,0.0,0.0,-5.0,1 Main St,Low"), "orders"))
    val expected = inputs.map { case (path, t) =>
      t -> Quality.profile(Transforms(t, Sources.readCsv(spark, path, t))).score
    }.toMap
    assert(expected("customers") < 100.0 && expected("products") < 100.0)
    assert(expected("orders") == 0.0)

    val out = tempDir("graft-etl-dups-out")
    val first = Pipeline.run(spark, inputs, out)
    assert(first.tablesFailed == 0, s"failed tables: ${first.failures}")
    assert(first.qualityScores == expected)
    assert(first.totalRecords == 4 + 3)
    // the second run appends to the same tables; the whole directory now
    // holds every row twice, but each run's score counts its own rows
    val second = Pipeline.run(spark, inputs, out)
    assert(second.qualityScores == expected)
    assert(Quality.profile(Sources.readTable(spark, out, "products")).score != expected("products"))
    assert(Sources.readTable(spark, out, "etl_metadata").count() == 6)
  }

  test("pipeline failures stay isolated under concurrent loads") {
    val in = tempDir("graft-etl-fail")
    DataGen.writeSampleData(spark, in, 200, 50, 150)
    val emptyProducts = writeFile(s"$in/empty_products.csv",
      "product_id,product_name,category,subcategory,brand,unit_price,cost_price,stock_quantity,weight_kg,supplier_id")
    val inputs = Seq(
      (s"$in/sample_customers", "customers"),
      (emptyProducts, "products"),
      (s"$in/sample_orders", "orders"),
      (s"$in/no_such_order_items.csv", "order_items"))
    val out = tempDir("graft-etl-fail-out")
    val m = Pipeline.run(spark, inputs, out)
    assert(m.tablesFailed == 2 && m.tablesProcessed == 2)
    assert(m.failures.keySet == Set("products", "order_items"))
    assert(m.failures("products").contains(s"No data found in file: $emptyProducts"))
    assert(m.qualityScores.keySet == Set("customers", "orders"))
    val meta = Sources.readTable(spark, out, "etl_metadata")
    assert(meta.select("table_name").as[String].collect().toSet == Set("customers", "orders"))
    Seq("products", "order_items").foreach { t =>
      assert(!new java.io.File(s"$out/$t.parquet").exists(), s"$t left files behind")
    }
    assertCustomerTotals(out)
  }

  test("writeSortedByKey produces disjoint per-file key ranges (file-skipping layout)") {
    val out = java.nio.file.Files.createTempDirectory("graft-sorted").toString
    val docs = graft.Tables.load(spark, sfDir, "documents")
    Sources.writeSortedByKey(docs, out, "docs_sorted", "doc_id", 4)

    val files = new java.io.File(s"$out/docs_sorted.parquet")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length >= 2, "expected multiple output files")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("doc_id"), max("doc_id")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi < lo, s"file key ranges overlap: $hi >= $lo")
      case _ =>
    }
    // layout is physical only: content round-trips
    assert(spark.read.parquet(s"$out/docs_sorted.parquet").count() == docs.count())
  }

  test("analyzeTables feeds exact row counts to the cost-based optimizer") {
    val n = 123L
    spark.range(n).selectExpr("id", "id % 7 AS k")
      .write.mode("overwrite").saveAsTable("graft_stats_probe")
    try {
      val stats = Pipeline.analyzeTables(spark, Seq("graft_stats_probe"))
      val (rows, bytes) = stats("graft_stats_probe")
      assert(rows == n, s"CBO row count $rows != $n")
      assert(bytes > 0)
    } finally spark.sql("DROP TABLE IF EXISTS graft_stats_probe")
  }

  test("JSONL round-trip is lossless for document text (newlines, quotes)") {
    import spark.implicits._
    val tricky = Seq(
      (1L, "line one\nline two\t\"quoted\"", "en", "s", 25L),
      (2L, "unicode é中文 and \\ backslash", "zh", "s", 24L),
      (3L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_spec").toString
    Sources.writeJsonl(tricky, tmp)
    val back = Sources.readJsonl(spark, tmp, tricky.schema)
    assert(back.count() == 3)
    assert(back.exceptAll(tricky).count() == 0 && tricky.exceptAll(back).count() == 0,
      "JSONL round-trip must be byte-lossless")
    // and the driver query's shape: full documents table round-trips
    val out = Sources.jsonlRoundtrip(spark, sfDir)
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    assert(out.exceptAll(docs).count() == 0 && docs.exceptAll(out).count() == 0)
  }

  test("mergeSchema read spans snapshot generations; old rows null the new column") {
    val merged = Sources.schemaEvolutionRoundtrip(spark, sfDir)
    assert(merged.columns.toSet == Set("doc_id", "lang", "source", "n_chars"))
    val docs = graft.Tables.load(spark, sfDir, "documents")
    assert(merged.count() == docs.count())
    // the generation boundary is the corpus doc_id midpoint (derived,
    // not a constant — a fixed id can empty one generation on corpora
    // whose id range misses it)
    val b = docs.agg(min("doc_id"), max("doc_id")).head()
    val split = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    assert(merged.filter(col("doc_id") <= split && col("n_chars").isNotNull).count() == 0)
    assert(merged.filter(col("doc_id") > split && col("n_chars").isNull).count() == 0)
    assert(merged.filter(col("doc_id") > split).count() > 0,
      "second generation must be non-empty on a >=2-doc corpus")
  }

  test("schema evolution holds on the minimum corpus (2 distinct doc_ids)") {
    // the documented minimum-corpus assumption: >= 2 distinct doc_ids
    // guarantees both generations are non-empty, so mergeSchema always
    // surfaces n_chars
    val dir = java.nio.file.Files.createTempDirectory("graft_evol_min").toString
    graft.Tables.load(spark, sfDir, "documents").orderBy("doc_id").limit(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merged = Sources.schemaEvolutionRoundtrip(spark, dir)
    assert(merged.columns.toSet == Set("doc_id", "lang", "source", "n_chars"))
    assert(merged.count() == 2)
    assert(merged.filter(col("n_chars").isNull).count() == 1)
    assert(merged.filter(col("n_chars").isNotNull).count() == 1)
  }

  test("JSONL source surfaces malformed lines: null rows in PERMISSIVE, throw in FAILFAST") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_corrupt")
    java.nio.file.Files.writeString(dir.resolve("part-0.json"),
      """{"doc_id": 1, "text": "good"}
        |{not json at all
        |{"doc_id": 3, "text": "also good"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val permissive = Sources.readJsonl(spark, dir.toString, schema)
    assert(permissive.count() == 3, "PERMISSIVE must keep one (null) row per bad line")
    assert(permissive.filter(col("doc_id").isNull).count() == 1)
    val thrown = intercept[Exception] {
      Sources.readJsonl(spark, dir.toString, schema, mode = "FAILFAST").collect()
    }
    // the FAILFAST contract is specifically about malformed records —
    // an unrelated AnalysisException must not satisfy this test
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(thrown).exists(m => m != null && m.toLowerCase.contains("malformed")),
      s"FAILFAST threw, but not for a malformed record: ${thrown.getMessage}")
  }

  test("WAP publish: audit record matches the source table; re-publish is idempotent") {
    import org.apache.spark.sql.functions._
    val out1 = Sources.publishAuditExport(spark, sfDir).collect()
    assert(out1.length == 1 && out1(0).getAs[Boolean]("published"))
    val docs = graft.Tables.load(spark, sfDir, "documents")
    assert(out1(0).getAs[Long]("n_rows") == docs.count())
    assert(out1(0).getAs[Long]("total_chars") ==
      docs.agg(sum("n_chars")).head().getLong(0))
    // publish again: stage → audit → atomic swap must succeed over an
    // existing live export and produce the identical audit record
    val out2 = Sources.publishAuditExport(spark, sfDir).collect()
    assert(out1.toSeq == out2.toSeq, "re-publish changed the audit record")
  }

  test("compaction: file count matches the byte plan, content untouched") {
    import org.apache.spark.sql.functions._
    def partFiles(p: java.nio.file.Path): Int =
      Option(p.toFile.listFiles()).getOrElse(Array())
        .count(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    val dir = java.nio.file.Files.createTempDirectory("compact_spec").resolve("t")
    val df = spark.range(10000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    df.repartition(32).write.parquet(dir.toString)
    assert(partFiles(dir) == 32, "fixture must start fragmented")
    val before = spark.read.parquet(dir.toString)
      .agg(sum("id"), count(lit(1))).head()
    // tiny target → several output files; huge target → exactly one
    val n = Sources.compactParquetDir(spark, dir, targetFileBytes = 64L * 1024)
    assert(n > 1 && partFiles(dir) == n,
      s"planned $n files, found ${partFiles(dir)}")
    val mid = spark.read.parquet(dir.toString)
      .agg(sum("id"), count(lit(1))).head()
    assert(mid == before, "compaction changed the data")
    val n2 = Sources.compactParquetDir(spark, dir, targetFileBytes = 1L << 40)
    assert(n2 == 1 && partFiles(dir) == 1)
    assert(spark.read.parquet(dir.toString)
      .agg(sum("id"), count(lit(1))).head() == before)
  }

  test("incremental compaction: rewrites only small files, compliant names survive, re-run is a no-op") {
    import org.apache.spark.sql.functions._
    def parts(p: java.nio.file.Path): Set[String] =
      Option(p.toFile.listFiles()).getOrElse(Array())
        .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
        .map(_.getName).toSet
    val dir = java.nio.file.Files.createTempDirectory("compact_incr_spec").resolve("t")
    val df = spark.range(20000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    // one compliant file (~90% of rows) + 24 tiny append files
    df.filter(col("id") % 10 =!= 0).coalesce(1).write.parquet(dir.toString)
    df.filter(col("id") % 10 === 0).repartition(24)
      .write.mode("append").parquet(dir.toString)
    val beforeNames = parts(dir)
    val bigs = Option(dir.toFile.listFiles()).getOrElse(Array())
      .filter(f => beforeNames(f.getName) && f.length >= 8192).map(_.getName).toSet
    val smalls = beforeNames -- bigs
    assert(bigs.nonEmpty && smalls.size >= 24, "fixture must be mixed-layout")
    val before = spark.read.parquet(dir.toString)
      .agg(sum("id"), count(lit(1))).head()

    val n = Sources.compactSmallFiles(spark, dir,
      targetFileBytes = 1L << 30, smallFloorBytes = 8192L)
    assert(n == 1, s"expected one merged file, planned $n")
    val afterNames = parts(dir)
    // the compliant files were NOT rewritten — same names, linked over
    assert(bigs.subsetOf(afterNames), "a compliant file was rewritten or lost")
    assert((smalls & afterNames).isEmpty, "a small file survived compaction")
    assert(afterNames.size == bigs.size + n)
    assert(spark.read.parquet(dir.toString)
      .agg(sum("id"), count(lit(1))).head() == before, "compaction changed the data")

    // bounded write amplification: a second pass finds < 2 small files
    // and must touch NOTHING (0 new files, identical directory listing)
    val n2 = Sources.compactSmallFiles(spark, dir,
      targetFileBytes = 1L << 30, smallFloorBytes = 8192L)
    assert(n2 == 0, "re-run of incremental compaction was not a no-op")
    assert(parts(dir) == afterNames, "no-op pass changed the layout")
  }

  test("WAP publish is crash-safe: a failed promotion never loses the live export") {
    import java.nio.file.{Files, Path}
    def mkExport(root: Path, name: String, content: String): Path = {
      val d = root.resolve(name); Files.createDirectories(d)
      Files.write(d.resolve("part-00000"), content.getBytes("UTF-8")); d
    }
    def readExport(d: Path): String =
      new String(Files.readAllBytes(d.resolve("part-00000")), "UTF-8")
    val root = Files.createTempDirectory("wap_crash")
    val fin = root.resolve("live")
    mkExport(root, "live", "OLD")
    // 1) promotion fails mid-publish: the complete OLD export must
    //    still be readable at the live path afterwards
    val stage1 = mkExport(root, "stage1", "NEW1")
    intercept[java.io.IOException] {
      Sources.publishDir(stage1, fin,
        move = (_, _) => throw new java.io.IOException("injected move failure"))
    }
    assert(Files.exists(fin), "failed publish deleted the live export")
    assert(readExport(fin) == "OLD", "failed publish corrupted the live export")
    // 2) simulated crash BETWEEN rename-aside and promotion: live is
    //    gone but live_old holds the complete export; the next publish
    //    must recover it (and then complete normally)
    Files.move(fin, root.resolve("live_old"))
    val stage2 = mkExport(root, "stage2", "NEW2")
    Sources.publishDir(stage2, fin)
    assert(readExport(fin) == "NEW2")
    assert(!Files.exists(root.resolve("live_old")), "aside copy not cleaned up")
    // 3) normal publish over a live export replaces it completely
    val stage3 = mkExport(root, "stage3", "NEW3")
    Sources.publishDir(stage3, fin)
    assert(readExport(fin) == "NEW3")
  }

  test("manifest compaction is reader-atomic: mid-compaction reads resolve exactly the old version") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_spec").resolve("t").toUri)
    val df = spark.range(20000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    // one compliant file (~90% of rows) + 24 tiny appends, committed as
    // two manifest versions
    val v1 = Sources.manifestAppend(spark, root, df.filter(col("id") % 10 =!= 0), 1)
    val v2 = Sources.manifestAppend(spark, root, df.filter(col("id") % 10 === 0), 24)
    assert(v1 == 1 && v2 == 2)
    val (_, beforeLines) = Sources.currentManifest(spark, root)
    val beforeFiles = Sources.dataEntries(beforeLines).map(_.uri)
    assert(beforeFiles.length == 25, s"fixture: ${beforeFiles.length} files")
    val before = Sources.manifestRead(spark, root)
      .agg(sum("id"), count(lit(1))).head()

    // the compliant file by URI (re-point contract checks it survives)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigs = beforeFiles.filter(f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen >= 8192).toSet
    assert(bigs.nonEmpty && beforeFiles.length - bigs.size == 24)

    // interpose a reader BETWEEN the small-file rewrite and the pointer
    // swap: it must resolve exactly the old version — same file list,
    // same content — even though the new data files already exist
    var midChecked = false
    val n = Sources.manifestCompactSmallFiles(spark, root,
      targetFileBytes = 1L << 30, smallFloorBytes = 8192L,
      beforeCommit = () => {
        val (mv, midLines) = Sources.currentManifest(spark, root)
        assert(mv == v2 && Sources.dataEntries(midLines).map(_.uri) == beforeFiles,
          "mid-compaction reader saw a file set other than the old version")
        assert(Sources.manifestRead(spark, root)
          .agg(sum("id"), count(lit(1))).head() == before)
        midChecked = true
      })
    assert(n == 1 && midChecked)

    // post-commit: version bumped, compliant file RE-POINTED (same URI,
    // zero bytes moved), smalls gone from the manifest, content intact
    val (v3, afterLines) = Sources.currentManifest(spark, root)
    val afterFiles = Sources.dataEntries(afterLines).map(_.uri)
    assert(v3 == v2 + 1)
    assert(bigs.subsetOf(afterFiles.toSet), "compliant file was not re-pointed")
    assert(afterFiles.length == bigs.size + n)
    assert(Sources.manifestRead(spark, root)
      .agg(sum("id"), count(lit(1))).head() == before)

    // old small files are still on disk until vacuum (an old-version
    // reader mid-flight can still finish); vacuum then leaves exactly
    // the live set under data/
    val preVacuum = beforeFiles.filterNot(afterFiles.contains)
    assert(preVacuum.forall(f => fs.exists(new org.apache.hadoop.fs.Path(f))),
      "commit deleted files a concurrent old-version reader may need")
    assert(Sources.manifestVacuum(spark, root, graceMs = 0L) > 0)
    val onDisk = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, "data"), true)
      val b = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (!p.getName.startsWith("_") && !p.getName.startsWith(".")) b += p.toString
      }
      b.toSet
    }
    assert(onDisk == afterFiles.toSet, "vacuum left orphans or ate live files")
    assert(Sources.manifestRead(spark, root)
      .agg(sum("id"), count(lit(1))).head() == before)

    // converged: a second pass is a no-op and changes nothing
    assert(Sources.manifestCompactSmallFiles(spark, root,
      targetFileBytes = 1L << 30, smallFloorBytes = 8192L) == 0)
    assert(Sources.dataEntries(Sources.currentManifest(spark, root)._2)
      .map(_.uri) == afterFiles)
  }

  test("equality deletes: zero-rewrite commits, apply-fold identity, compaction passthrough") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_mor_spec").resolve("t").toUri)
    val df = spark.range(20000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    def sig(d: org.apache.spark.sql.DataFrame) =
      d.agg(sum("id"), count(lit(1))).head()
    Sources.manifestAppend(spark, root, df.filter(col("id") % 10 =!= 0), 1)
    val v2 = Sources.manifestAppend(spark, root, df.filter(col("id") % 10 === 0), 24)
    val (_, preLines) = Sources.currentManifest(spark, root)

    // delete commit touches ZERO data files: same data entries, one new
    // delete: entry, and the merged read drops exactly the keyed rows
    Sources.manifestDelete(spark, root,
      df.filter(col("id") % 7 === 3).select("id"))
    val (_, delLines) = Sources.currentManifest(spark, root)
    assert(Sources.dataEntries(delLines) == Sources.dataEntries(preLines),
      "a delete commit rewrote data files")
    assert(Sources.deleteEntries(delLines).length == 1)
    val want1 = sig(df.filter(col("id") % 7 =!= 3))
    assert(sig(Sources.manifestReadMerged(spark, root)) == want1)

    // second delete accumulates; time travel to the pre-delete version
    // still sees every row
    Sources.manifestDelete(spark, root,
      df.filter(col("id") % 11 === 5).select("id"))
    val want2 = sig(df.filter(col("id") % 7 =!= 3 && col("id") % 11 =!= 5))
    assert(sig(Sources.manifestReadMerged(spark, root)) == want2)
    assert(sig(Sources.manifestReadAt(spark, root, v2)) == sig(df))

    // SEQUENCE RULE: keys re-inserted AFTER their delete survive the
    // merge (the CDC upsert pattern) — the delete applies only to data
    // files committed before it
    val reins = df.filter(col("id") % 7 === 3 && col("id") < 700)
    Sources.manifestAppend(spark, root, reins, 1)
    val survivors = df.filter(col("id") % 7 =!= 3 && col("id") % 11 =!= 5)
      .unionByName(reins)
    val want3 = sig(survivors)
    assert(sig(Sources.manifestReadMerged(spark, root)) == want3,
      "a re-inserted key was killed by an older delete")

    // size-compaction composes: delete entries carried through, merged
    // read unchanged (rewritten smalls fold their applicable deletes
    // in, re-inserted rows stay immune)
    assert(Sources.manifestCompactSmallFiles(spark, root,
      targetFileBytes = 1L << 30, smallFloorBytes = 8192L) > 0)
    val (_, afterCompact) = Sources.currentManifest(spark, root)
    assert(Sources.deleteEntries(afterCompact).length == 2,
      "size-compaction dropped delete entries")
    assert(sig(Sources.manifestReadMerged(spark, root)) == want3)

    // applyDeletes folds deletes into fresh data files: identical read,
    // no delete entries left, second call a no-op
    val vApplied = Sources.manifestApplyDeletes(spark, root, 2)
    val (vNow, foldedLines) = Sources.currentManifest(spark, root)
    assert(vNow == vApplied)
    assert(Sources.deleteEntries(foldedLines).isEmpty)
    assert(sig(Sources.manifestReadMerged(spark, root)) == want3)
    assert(Sources.manifestApplyDeletes(spark, root, 2) == vApplied)
    // vacuum reclaims the pre-fold files; the live read stays correct
    assert(Sources.manifestVacuum(spark, root, graceMs = 0L) > 0)
    assert(sig(Sources.manifestReadMerged(spark, root)) == want3)
  }

  test("zone maps: range reads skip files from metadata; unzoned files stay safe") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_zone_spec").resolve("t").toUri)
    val df = spark.range(20000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    Sources.manifestAppendZoned(spark, root, df, 16, "id")
    // zones are MANIFEST ENTRIES committed atomically with their data
    // files — no sidecar exists for a racing reader to catch mid-write
    val fs0 = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs0.listStatus(new org.apache.hadoop.fs.Path(root, "_manifests"))
      .exists(_.getPath.getName.startsWith("s-")),
      "zone stats leaked into a sidecar file")
    // a 1/20th window over 16 range shards must plan ≤ a quarter of
    // the files — the skipping decision, from manifest metadata only
    val (kept, total) = Sources.zonePrunedFiles(spark, root, 5000L, 5999L)
    assert(total == 16 && kept.length <= 4,
      s"pruning kept ${kept.length} of $total files")
    val got = Sources.manifestReadZoned(spark, root, "id", 5000L, 5999L)
    val want = df.filter(col("id") >= 5000 && col("id") <= 5999)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "pruned scan lost or invented rows")
    // an UNZONED append (no sidecar entries) always scans — pruning is
    // an optimization, never a correctness gate
    Sources.manifestAppend(spark, root,
      spark.range(30000, 30010).toDF("id")
        .withColumn("payload", md5(col("id").cast("string"))), 1)
    val (kept2, total2) = Sources.zonePrunedFiles(spark, root, 30000L, 40000L)
    assert(total2 == 17 && kept2.length == 1,
      "zoned files not skipped or unzoned file dropped")
    assert(Sources.manifestReadZoned(spark, root, "id", 30000L, 40000L)
      .count() == 10)
  }

  test("zone maps: a reader racing a zoned commit prunes a committed version or scans unpruned — never crashes") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_zonerace_spec").resolve("t").toUri)
    val df = spark.range(8000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    Sources.manifestAppendZoned(spark, root, df.filter(col("id") < 4000), 8, "id")
    // writer thread commits a second zoned append while the reader
    // loops the pruning planner + pruned read. Because zone stats are
    // manifest ENTRIES (not a sidecar), every read resolves one
    // committed manifest: it either sees v1 (4000 rows' files, pruned
    // by v1 zones) or v2 (8000 rows' files, pruned by both commits'
    // zones) — and a [0, 8000) window read returns exactly one of the
    // two committed row counts, never a torn line, never an exception.
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val writer = new Thread(() => {
      try { Sources.manifestAppendZoned(spark, root,
        df.filter(col("id") >= 4000), 8, "id"); () }
      catch { case e: Throwable => failures.add(e); () }
    })
    var sawOld = false
    var sawNew = false
    writer.start()
    while ((writer.isAlive || !sawNew) && failures.isEmpty) {
      val (kept, total) = Sources.zonePrunedFiles(spark, root, 1000L, 1499L)
      assert(kept.length <= total)
      val n = Sources.manifestReadZoned(spark, root, "id", 0L, 8000L).count()
      assert(n == 4000L || n == 8000L,
        s"mid-commit zoned read returned a torn row count $n")
      if (n == 4000L) sawOld = true
      if (n == 8000L) sawNew = true
    }
    writer.join()
    assert(failures.isEmpty, s"zoned writer died: ${failures.peek()}")
    assert(sawNew, "reader never observed the committed v2")
    // post-commit: the narrow window still prunes (files from BOTH
    // zoned appends carry zone entries)
    val (kept, total) = Sources.zonePrunedFiles(spark, root, 1000L, 1499L)
    assert(total == 16 && kept.length <= 4,
      s"post-race pruning kept ${kept.length} of $total")
  }

  test("incremental index fold equals the from-scratch rebuild") {
    import org.apache.spark.sql.functions._
    val out = Sources.incrementalIndexMaintenance(spark, sfDir)
    val full = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token", "doc_id").agg(count(lit(1)).cast("long").as("tf"))
      .groupBy("token").agg(count(lit(1)).cast("long").as("n_docs"),
        sum("tf").cast("long").as("total_tf"))
      .orderBy(col("total_tf").desc, col("token")).limit(200)
      .collect().map(r => (r.getAs[String]("token"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("total_tf")))
    val folded = out.collect().map(r => (r.getAs[String]("token"),
      r.getAs[Long]("n_docs"), r.getAs[Long]("total_tf")))
    assert(folded.toSeq == full.toSeq,
      "folding the append delta diverged from the full rebuild")
  }

  test("manifest time travel + diff reads honor the retention window") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_tt_spec").resolve("t").toUri)
    val df = spark.range(5000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    val a = df.filter(col("id") % 10 =!= 0)
    val b = df.filter(col("id") % 10 === 0)
    Sources.manifestAppend(spark, root, a, 1)
    Sources.manifestAppend(spark, root, b, 16)

    // diff(v1 -> v2) scans only the added files = exactly the second
    // append's rows
    val diff = Sources.manifestReadDiff(spark, root, 1L, 2L)
    assert(diff.agg(sum("id"), count(lit(1))).head() ==
      b.agg(sum("id"), count(lit(1))).head())
    // empty diff at equal versions
    assert(Sources.manifestReadDiff(spark, root, 2L, 2L).isEmpty)

    // compact (v3); time travel to v1 must survive compaction AND a
    // vacuum whose retention window still covers v1
    assert(Sources.manifestCompactSmallFiles(spark, root,
      targetFileBytes = 1L << 30, smallFloorBytes = 8192L) > 0)
    Sources.manifestVacuum(spark, root, retainVersions = 3, graceMs = 0L)
    val snap1 = Sources.manifestReadAt(spark, root, 1L)
    assert(snap1.agg(sum("id"), count(lit(1))).head() ==
      a.agg(sum("id"), count(lit(1))).head(),
      "v1 snapshot drifted across compaction + windowed vacuum")
    // live read still the full table
    assert(Sources.manifestRead(spark, root).count() == 5000)

    // shrink the window to live-only: v1/v2 manifests and their
    // now-unreferenced files go; time travel outside the window fails
    // LOUDLY, the live read is untouched
    assert(Sources.manifestVacuum(spark, root, retainVersions = 1, graceMs = 0L) > 0)
    intercept[IllegalArgumentException] {
      Sources.manifestReadAt(spark, root, 1L)
    }
    assert(Sources.manifestRead(spark, root).count() == 5000)
  }

  test("manifest schema evolution: union schema on merged reads, old snapshots keep their schema") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_evo_spec").resolve("t").toUri)
    val df = spark.range(3000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
      .withColumn("extra", (col("id") * 2).cast("long"))
    val oldGen = df.filter(col("id") % 10 =!= 0).drop("extra")
    val newGen = df.filter(col("id") % 10 === 0)
    Sources.manifestAppend(spark, root, oldGen, 1)
    Sources.manifestAppend(spark, root, newGen, 4)

    // merged read = union schema; pre-evolution rows read NULL extra
    val live = Sources.manifestRead(spark, root)
    assert(live.columns.toSeq.sorted == Seq("extra", "id", "payload"))
    assert(live.count() == 3000)
    assert(live.filter(col("id") % 10 =!= 0 && col("extra").isNotNull).count() == 0,
      "pre-evolution rows must read the new column as NULL")
    assert(live.filter(col("id") % 10 === 0 && (col("extra").isNull ||
      col("extra") =!= col("id") * 2)).count() == 0,
      "post-evolution rows must carry their written values")

    // an equality delete keyed on a column every generation has prunes
    // rows across BOTH schemas in one commit
    Sources.manifestDelete(spark, root,
      df.filter(col("id") % 7 === 3).select(col("id")))
    val afterDel = Sources.manifestRead(spark, root)
    assert(afterDel.filter(col("id") % 7 === 3).count() == 0)
    assert(afterDel.count() == df.filter(col("id") % 7 =!= 3).count())

    // time travel to v1 reads the ORIGINAL schema — old snapshots do
    // not grow columns retroactively
    val snap1 = Sources.manifestReadAt(spark, root, 1L)
    assert(snap1.columns.toSeq.sorted == Seq("id", "payload"),
      "v1 snapshot must keep its as-committed schema")
    assert(snap1.count() == oldGen.count())

    // delete-key contract: a delete keyed on the post-evolution column
    // cannot apply to the pre-evolution generation — the merged read
    // fails LOUDLY at analysis instead of silently skipping old rows
    Sources.manifestDelete(spark, root,
      newGen.limit(1).select(col("extra")))
    intercept[org.apache.spark.sql.AnalysisException] {
      Sources.manifestRead(spark, root).count()
    }
  }

  test("heterogeneous delete keys: every key group applies; none is silently null-filled") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_hetkey_spec").resolve("t").toUri)
    val df = spark.range(4000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
      .withColumn("extra", (col("id") * 2).cast("long"))
    Sources.manifestAppend(spark, root, df, 2)
    // two deletes with DIFFERENT key schemas against one generation —
    // before key-grouped reads, one read.parquet over both delete
    // files inferred a single schema and the other delete's keys read
    // as NULL: that delete silently stopped applying (the EtlSpec:744
    // flake, observed both ways in one session)
    Sources.manifestDelete(spark, root,
      df.filter(col("id") % 7 === 3).select(col("id")))
    Sources.manifestDelete(spark, root,
      df.filter(col("id") % 5 === 0).select(col("extra")))
    // the key column sets ride the manifest — readers never re-infer
    val delKeys = Sources.deleteEntries(
      Sources.currentManifest(spark, root)._2).map(_.keys).sortBy(_.mkString)
    assert(delKeys == Seq(Seq("extra"), Seq("id")),
      s"delete key columns not recorded in the manifest: $delKeys")
    val want = df.filter(col("id") % 7 =!= 3 && col("id") % 5 =!= 0)
    // ten reads: the result must be the same every time — BOTH deletes
    // applied, deterministically, independent of footer sampling order
    (1 to 10).foreach { i =>
      val got = Sources.manifestRead(spark, root)
      assert(got.count() == want.count(), s"read $i lost a delete group")
      assert(got.filter(col("id") % 7 === 3).count() == 0,
        s"read $i: the id-keyed delete did not apply")
      assert(got.filter(col("id") % 5 === 0).count() == 0,
        s"read $i: the extra-keyed delete did not apply")
    }
    // and folding deletes into data files preserves the same answer
    Sources.manifestApplyDeletes(spark, root, 2)
    assert(Sources.manifestRead(spark, root)
      .agg(sum("id"), count(lit(1))).head() ==
      want.agg(sum("id"), count(lit(1))).head(),
      "applyDeletes diverged from the merged read over mixed key groups")
  }

  test("delete keys across a type widening: grouped by (names, TYPES), both apply deterministically") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_widekey_spec").resolve("t").toUri)
    // generation 1: int key; generation 2: the SAME column widened to
    // long (lossless promotion the evolution gate admits)
    val gen1 = spark.range(2000).select(col("id").cast("int").as("n"),
      md5(col("id").cast("string")).as("payload"))
    Sources.manifestAppend(spark, root, gen1, 2)
    Sources.manifestDelete(spark, root,
      gen1.filter(col("n") % 7 === 3).select(col("n"))) // int-keyed delete
    val gen2 = spark.range(2000, 4000).select(col("id").as("n"),
      md5(col("id").cast("string")).as("payload"))
    Sources.manifestAppend(spark, root, gen2, 2)
    Sources.manifestDelete(spark, root,
      gen2.filter(col("n") % 5 === 0).select(col("n"))) // long-keyed delete
    // both deletes key on column NAME `n` but different TYPES — one
    // read.parquet over both files would hit mixed int32/int64 footers
    // and nondeterministically fail or coerce; the (names, types)
    // grouping reads each with its recorded schema
    val delEntries = Sources.deleteEntries(Sources.currentManifest(spark, root)._2)
    assert(delEntries.forall(_.keySchemaJson.isDefined),
      "delete commits must record their key schema in the manifest")
    assert(delEntries.map(_.keySchemaJson.get).distinct.size == 2,
      "int-keyed and long-keyed deletes must carry distinct key schemas")
    val wantCount = 2000 - gen1.filter(col("n") % 7 === 3).count() +
      2000 - gen2.filter(col("n") % 5 === 0).count()
    (1 to 5).foreach { i =>
      val got = Sources.manifestRead(spark, root)
      assert(got.count() == wantCount, s"read $i lost a delete group across the widening")
      assert(got.filter(col("n") < 2000 && col("n") % 7 === 3).count() == 0,
        s"read $i: the int-keyed delete did not apply")
      assert(got.filter(col("n") >= 2000 && col("n") % 5 === 0).count() == 0,
        s"read $i: the long-keyed delete did not apply")
    }
    // compaction folds both groups identically
    Sources.manifestApplyDeletes(spark, root, 2)
    assert(Sources.manifestRead(spark, root).count() == wantCount)
  }

  test("manifestAppendExactly: exactly one of two same-version committers wins; loser leaves no rows") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_claim_spec").resolve("t").toUri)
    val a = spark.range(100).select(col("id"), lit("A").as("who"))
    val b = spark.range(100).select(col("id"), lit("B").as("who"))
    // the ADVICE-r17 window made explicit: both builders observed the
    // empty table, both stage, both try to commit v1 — the claim-based
    // create admits exactly one
    val winA = Sources.manifestAppendExactly(spark, root, a, 1, 1L)
    val winB = Sources.manifestAppendExactly(spark, root, b, 1, 1L)
    assert(winA && !winB, "exactly the first v1 claim must win")
    val rows = Sources.manifestRead(spark, root)
    assert(rows.count() == 100, "the loser's staged rows must not be in the table")
    assert(rows.filter(col("who") =!= "A").count() == 0)
    // a stale-target append (current is already v1, target v1) refuses
    assert(!Sources.manifestAppendExactly(spark, root, b, 1, 1L))
    // the next step targets v2 and succeeds exactly once
    assert(Sources.manifestAppendExactly(spark, root, b, 1, 2L))
    assert(!Sources.manifestAppendExactly(spark, root, a, 1, 2L))
    assert(Sources.manifestRead(spark, root).count() == 200)
  }

  test("pre-upgrade manifest (no schema lines): first post-upgrade append still validates against _schema.json") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("manifest_preup_spec")
    val root = new org.apache.hadoop.fs.Path(dir.resolve("t").toUri)
    val df = spark.range(500).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    Sources.manifestAppend(spark, root, df, 1)
    // simulate a table committed before SchemaEntry lines existed:
    // strip the s-lines from the manifest body (data entries +
    // _schema.json remain — the real pre-upgrade on-disk state)
    val mPath = java.nio.file.Paths.get(
      new java.net.URI(root.toString)).resolve("_manifests").resolve("m-1.txt")
    val stripped = java.nio.file.Files.readAllLines(mPath).stream()
      .filter(l => !l.startsWith("s\t")).toArray.mkString("\n") + "\n"
    java.nio.file.Files.writeString(mPath, stripped)
    assert(Sources.recordedUnionSchema(
      Sources.parseEntries(Sources.currentManifest(spark, root)._2)).isEmpty,
      "precondition: the manifest must carry no schema lines")
    // a rename in the first post-upgrade append must FAIL — before the
    // fix it seeded the union from its own schema with no validation
    // and permanently narrowed the recorded union
    intercept[Sources.SchemaEvolutionViolation] {
      Sources.manifestAppend(spark, root,
        df.withColumnRenamed("payload", "paylaod"), 1)
    }
    // a well-formed append passes and seeds the union from _schema.json
    Sources.manifestAppend(spark, root,
      df.withColumn("extra", col("id") * 2), 1)
    val u = Sources.recordedUnionSchema(
      Sources.parseEntries(Sources.currentManifest(spark, root)._2))
    assert(u.map(_.fieldNames.toSeq.sorted) == Some(Seq("extra", "id", "payload")),
      "the post-upgrade append must seed the union from the persisted schema plus its adds")
  }

  test("additive schema gate: drops, renames, and type drift fail at WRITE; adds pass") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_gate_spec").resolve("t").toUri)
    val df = spark.range(1000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    Sources.manifestAppend(spark, root, df, 1)
    // a renamed column is a drop+add under name-based resolution — the
    // gate rejects it at commit time instead of letting merged reads
    // silently null-fill `payload` for every other generation
    intercept[Sources.SchemaEvolutionViolation] {
      Sources.manifestAppend(spark, root,
        df.withColumnRenamed("payload", "paylaod"), 1)
    }
    // a dropped column fails the same way
    intercept[Sources.SchemaEvolutionViolation] {
      Sources.manifestAppend(spark, root, df.select("id"), 1)
    }
    // type drift on a shared column fails
    intercept[Sources.SchemaEvolutionViolation] {
      Sources.manifestAppend(spark, root,
        df.withColumn("payload", lit(7)), 1)
    }
    // nothing above committed: the table is exactly the first append
    assert(Sources.manifestRead(spark, root).count() == 1000)
    assert(Sources.currentManifest(spark, root)._1 == 1L)
    // ADDITIVE evolution passes and widens the recorded union schema
    Sources.manifestAppend(spark, root,
      df.withColumn("extra", (col("id") * 2).cast("long")), 1)
    val union = Sources.recordedUnionSchema(
      Sources.parseEntries(Sources.currentManifest(spark, root)._2))
    assert(union.map(_.fieldNames.toSeq.sorted) ==
      Some(Seq("extra", "id", "payload")))
    // an append that regresses to the pre-evolution schema is
    // non-additive too — the union only ever grows
    intercept[Sources.SchemaEvolutionViolation] {
      Sources.manifestAppend(spark, root, df, 1)
    }
  }

  test("schema evolution: lossless type widening is accepted, reads wide, narrowing is drift") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_widen_spec").resolve("t").toUri)
    val gen1 = spark.range(1000).toDF("id")
      .withColumn("n", col("id").cast("int"))
    val gen2 = spark.range(1000, 2000).toDF("id")
      .withColumn("n", col("id") * 3) // long: widens int -> long
    Sources.manifestAppend(spark, root, gen1, 1)
    Sources.manifestAppend(spark, root, gen2, 1)
    // the merged read carries the WIDE type with exact values on both
    // sides of the widening boundary (Union's WidenSetOperationTypes
    // coerces the old int files losslessly)
    val live = Sources.manifestRead(spark, root)
    assert(live.schema("n").dataType == LongType)
    assert(live.count() == 2000)
    assert(live.filter(col("id") < 1000 &&
      col("n") =!= col("id").cast("long")).count() == 0)
    assert(live.filter(col("id") >= 1000 &&
      col("n") =!= col("id") * 3).count() == 0)
    // the recorded union took the widest committed type
    assert(Sources.recordedUnionSchema(Sources.parseEntries(
      Sources.currentManifest(spark, root)._2)).get("n").dataType == LongType)
    // NARROWING back and unrelated retypes are drift — write fails
    intercept[Sources.SchemaEvolutionViolation] {
      Sources.manifestAppend(spark, root, gen1, 1)
    }
    intercept[Sources.SchemaEvolutionViolation] {
      Sources.manifestAppend(spark, root,
        gen2.withColumn("n", col("n").cast("string")), 1)
    }
    // time travel to v1 keeps the as-committed NARROW type
    assert(Sources.manifestReadAt(spark, root, 1L)
      .schema("n").dataType == IntegerType)
    // an equality delete keyed on the widened column prunes BOTH
    // generations (the anti-join coerces the int generation)
    Sources.manifestDelete(spark, root,
      live.filter(col("id") % 10 === 0).select("n"))
    assert(Sources.manifestRead(spark, root).count() == 1800)
  }

  test("schema evolution composes with compaction, merge, restore, and zoned reads") {
    import org.apache.spark.sql.functions._
    def sig(d: org.apache.spark.sql.DataFrame) =
      d.agg(sum("id"), sum("extra"), count(lit(1))).head()
    // --- compaction over a two-generation table --------------------
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_evo2_spec").resolve("t").toUri)
    val df = spark.range(3000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
      .withColumn("extra", (col("id") * 2).cast("long"))
    val gen1 = df.filter(col("id") % 10 =!= 0).drop("extra")
    val gen2 = df.filter(col("id") % 10 === 0)
    Sources.manifestAppend(spark, root, gen1, 3)
    Sources.manifestAppend(spark, root, gen2, 3)
    val before = sig(Sources.manifestRead(spark, root))
    assert(Sources.manifestCompactSmallFiles(spark, root,
      targetFileBytes = 1L << 30, smallFloorBytes = 1L << 20) > 0)
    val compacted = Sources.manifestRead(spark, root)
    assert(compacted.columns.toSeq.sorted == Seq("extra", "id", "payload"),
      "compaction dropped the union schema")
    assert(sig(compacted) == before,
      "compacting a mixed-schema table changed the data")
    assert(compacted.filter(col("id") % 10 =!= 0 &&
      col("extra").isNotNull).count() == 0,
      "compaction invented values for pre-evolution rows")
    // the recorded union schema survived the rewrite
    assert(Sources.recordedUnionSchema(Sources.parseEntries(
      Sources.currentManifest(spark, root)._2))
      .map(_.fieldNames.toSeq.sorted) == Some(Seq("extra", "id", "payload")))

    // --- MERGE with the union schema over both generations ---------
    val updates = df.filter(col("id") % 9 === 1)
      .withColumn("payload", lit("MERGED"))
    Sources.manifestMerge(spark, root, updates, Seq("id"), 2)
    val merged = Sources.manifestRead(spark, root)
    assert(merged.count() == 3000)
    assert(merged.filter(col("payload") === "MERGED").count() ==
      updates.count(), "merge missed rows in one schema generation")
    // a merge whose updates REGRESS the schema fails at write
    intercept[Sources.SchemaEvolutionViolation] {
      Sources.manifestMerge(spark, root,
        updates.drop("extra"), Seq("id"), 2)
    }

    // --- restore to the pre-evolution version reads the old schema -
    val root2 = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_evo3_spec").resolve("t").toUri)
    Sources.manifestAppend(spark, root2, gen1, 1)
    Sources.manifestAppend(spark, root2, gen2, 1)
    Sources.manifestRestore(spark, root2, 1L)
    val restored = Sources.manifestRead(spark, root2)
    assert(restored.columns.toSeq.sorted == Seq("id", "payload"),
      "restore to the pre-evolution version must read the original schema")
    assert(restored.count() == gen1.count())
    // ...and the restored union schema accepts the old shape again
    Sources.manifestAppend(spark, root2, gen1.limit(1), 1)

    // --- zoned reads across schema generations ----------------------
    val root3 = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_evo4_spec").resolve("t").toUri)
    Sources.manifestAppendZoned(spark, root3,
      df.filter(col("id") < 1500).drop("extra"), 4, "id")
    Sources.manifestAppendZoned(spark, root3,
      df.filter(col("id") >= 1500), 4, "id")
    // a window straddling the generation boundary unions by name:
    // deterministic columns, old rows NULL-extra — ten reads agree
    (1 to 10).foreach { i =>
      val got = Sources.manifestReadZoned(spark, root3, "id", 1000L, 1999L)
      assert(got.columns.toSeq.sorted == Seq("extra", "id", "payload"),
        s"zoned read $i lost the union schema to footer sampling")
      assert(got.count() == 1000)
      assert(got.filter(col("id") < 1500 && col("extra").isNotNull).count() == 0)
      assert(got.filter(col("id") >= 1500 &&
        (col("extra").isNull || col("extra") =!= col("id") * 2)).count() == 0,
        s"zoned read $i null-filled the post-evolution generation")
    }
    // the incremental diff read keeps per-commit schemas too
    val diff = Sources.manifestReadDiff(spark, root3, 1L, 2L)
    assert(diff.columns.toSeq.sorted == Seq("extra", "id", "payload"))
    assert(diff.count() == 1500)
  }

  test("manifest OCC: the exclusive create is the commit claim; losers retry, nothing is lost") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_occ_spec").resolve("t").toUri)
    val df = spark.range(4000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    Sources.manifestAppend(spark, root, df.filter(col("id") < 1000), 1)

    // a second commit of the SAME version must lose the create race
    // loudly — this is the lost-update guard itself
    intercept[Sources.ManifestCommitConflict] {
      Sources.manifestCommit(spark, root, 1L, Seq("file:///nope"))
    }
    // and the losing claim must not have clobbered the winner
    assert(Sources.manifestRead(spark, root).count() == 1000)

    // 8 concurrent appenders over disjoint slices: every slice lands
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val rest = df.filter(col("id") >= 1000)
    val threads = (0 until 8).map { i =>
      val t = new Thread(() => {
        try { Sources.manifestAppend(spark, root,
          rest.filter(pmod(col("id"), lit(8L)) === i), 1); () }
        catch { case e: Throwable => failures.add(e); () }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    assert(failures.isEmpty, s"appender died: ${failures.peek()}")
    val (v, entries) = Sources.currentManifest(spark, root)
    assert(v == 9L, s"8 appends over v1 must land 8 commits, got v$v")
    assert(entries.distinct.size == entries.size, "duplicate manifest entries")
    assert(Sources.manifestRead(spark, root).agg(
      sum("id"), count(lit(1))).head() ==
      df.agg(sum("id"), count(lit(1))).head(),
      "a concurrent append was lost")

    // a dangling claimed version (crash between claim and pointer
    // swap) blocks writers LOUDLY, never silently
    Sources.manifestCommit(spark, root, 10L, entries)
    // _current still points at v9 if we only wrote the claim... so
    // simulate the crash by claiming v11 directly without the swap
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dangling = new org.apache.hadoop.fs.Path(root, "_manifests/m-11.txt")
    val out = fs.create(dangling, false)
    out.write("file:///crashed\n".getBytes("UTF-8")); out.close()
    val ex = intercept[IllegalArgumentException] {
      Sources.commitWithRetry(spark, root, maxAttempts = 3)((old, _) => old)
    }
    assert(ex.getMessage.contains("conflicted commits"))
    // cleanup unblocks
    fs.delete(dangling, false)
    Sources.commitWithRetry(spark, root)((old, _) => old)
    assert(Sources.manifestRead(spark, root).count() == 4000)
  }

  // list a write dir's data files the way the manifest layer does
  private def listDataFiles(root: org.apache.hadoop.fs.Path,
      sub: String): Seq[String] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, sub), true)
    val b = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) b += st.getPath.toString
    }
    b.toSeq.sorted
  }

  test("sequence-at-commit: a retried append outlives the delete that interleaved") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_seq_spec").resolve("t").toUri)
    val df = spark.range(1000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    Sources.manifestAppend(spark, root, df, 1) // v1
    // the append re-inserts exactly the keys the racing delete kills
    val reins = df.filter(col("id") % 10 === 0)
    reins.coalesce(1).write.parquet(
      new org.apache.hadoop.fs.Path(root, "data/a-race").toString)
    val files = listDataFiles(root, "data/a-race")
    // slow append: observed v1, but a delete commits FIRST (claiming
    // v2 inside the first callback invocation) — the append's claim of
    // v2 conflicts, it retries, and lands at v3 with seq 3 entries
    var first = true
    val landed = Sources.commitWithRetry(spark, root) { (old, v) =>
      if (first) {
        first = false
        Sources.manifestDelete(spark, root, reins.select("id"))
      }
      old ++ files.map(f => Sources.DataFileEntry(v, f).line)
    }
    assert(landed == 3L, s"append retried to v$landed, expected v3")
    // the v2 delete must NOT kill the v3 re-insert: sequence assigned
    // at COMMIT, not at the stale observation
    val got = Sources.manifestReadMerged(spark, root)
    assert(got.count() == 1000,
      "the interleaved delete killed rows committed after it")
    assert(got.filter(col("id") % 10 === 0).count() == 100)
  }

  test("sequence-at-commit mirrored: a retried delete still kills data that landed before it") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_seq2_spec").resolve("t").toUri)
    val df = spark.range(1000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    val late = spark.range(1000, 1100).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    Sources.manifestAppend(spark, root, df, 1) // v1
    // delete of ids in [500, 600) ∪ [1000, 1050): observed v1, but an
    // append of `late` wins v2; the delete retries and lands at v3 —
    // and MUST apply to the v2 append too (committed strictly before
    // the delete landed: the Iceberg sequence rule, both directions)
    val keys = spark.range(500, 600).toDF("id")
      .unionByName(spark.range(1000, 1050).toDF("id"))
    keys.coalesce(1).write.parquet(
      new org.apache.hadoop.fs.Path(root, "data/del-race").toString)
    val delFiles = listDataFiles(root, "data/del-race")
    var first = true
    val landed = Sources.commitWithRetry(spark, root) { (old, v) =>
      if (first) {
        first = false
        Sources.manifestAppend(spark, root, late, 1)
      }
      old ++ delFiles.map(f => Sources.DeleteFileEntry(v, f).line)
    }
    assert(landed == 3L, s"delete retried to v$landed, expected v3")
    val got = Sources.manifestReadMerged(spark, root)
    assert(got.count() == 1100 - 150,
      "the retried delete missed rows committed before it landed")
    assert(got.filter(col("id") >= 1000 && col("id") < 1050).count() == 0,
      "the v2 append escaped the v3 delete")
  }

  test("vacuum racing committing appenders: every winner's version survives") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_vac_spec").resolve("t").toUri)
    val df = spark.range(4000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    Sources.manifestAppend(spark, root, df.filter(col("id") < 2000), 1)
    // 16 interleavings: an appender commits while vacuum sweeps with a
    // live-only retention window. The version>live guard keeps vacuum
    // off the appender's manifest (claimed or just-committed); the
    // mtime grace keeps it off the appender's pre-commit data files.
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    (0 until 16).foreach { i =>
      val t = new Thread(() => {
        try { Sources.manifestAppend(spark, root,
          df.filter(col("id") >= 2000 && pmod(col("id"), lit(16L)) === i), 1); () }
        catch { case e: Throwable => failures.add(e); () }
      })
      t.start()
      Sources.manifestVacuum(spark, root, retainVersions = 1)
      t.join()
    }
    assert(failures.isEmpty, s"appender died racing vacuum: ${failures.peek()}")
    assert(Sources.manifestRead(spark, root).agg(
      sum("id"), count(lit(1))).head() ==
      df.agg(sum("id"), count(lit(1))).head(),
      "vacuum destroyed a concurrently-committed version")
    // even a zero-grace vacuum afterwards only reclaims UNREFERENCED
    // files: everything any present manifest references survives
    Sources.manifestVacuum(spark, root, retainVersions = 1, graceMs = 0L)
    assert(Sources.manifestRead(spark, root).count() == 4000)
  }

  test("restore rolls back as a new commit: history append-only, bad version reclaimable") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_restore_spec").resolve("t").toUri)
    val good = spark.range(2000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    val bad = spark.range(9000, 9500).toDF("id")
      .withColumn("payload", lit("corrupt"))
    Sources.manifestAppend(spark, root, good, 1)          // v1
    Sources.manifestAppend(spark, root, bad, 4)           // v2 — the bad load
    assert(Sources.manifestRead(spark, root).count() == 2500)
    val restored = Sources.manifestRestore(spark, root, 1L)
    assert(restored == 3L, s"restore landed at v$restored, expected a NEW v3")
    // live view = the good batch; entry set identical to v1's
    assert(Sources.manifestRead(spark, root).count() == 2000)
    assert(Sources.currentManifest(spark, root)._2.toSet ==
      Sources.manifestFilesAt(spark, root, 1L).toSet,
      "restore did not re-commit v1's exact entry set")
    // history is append-only: the bad v2 stays time-travel-readable
    assert(Sources.manifestReadAt(spark, root, 2L).count() == 2500)
    // an append AFTER the restore builds on the restored state
    Sources.manifestAppend(spark, root,
      spark.range(2000, 2100).toDF("id")
        .withColumn("payload", md5(col("id").cast("string"))), 1) // v4
    assert(Sources.manifestRead(spark, root).count() == 2100)
    assert(Sources.manifestRead(spark, root)
      .filter(col("payload") === "corrupt").count() == 0,
      "the rolled-back bad rows leaked into the restored line")
    // a live-only vacuum reclaims the bad version's manifest and its
    // now-unreferenced files; the live read is untouched
    assert(Sources.manifestVacuum(spark, root, retainVersions = 1, graceMs = 0L) > 0)
    intercept[IllegalArgumentException] {
      Sources.manifestReadAt(spark, root, 2L)
    }
    assert(Sources.manifestRead(spark, root).count() == 2100)
  }

  test("restore refuses when the live version advanced past its observation") {
    import org.apache.spark.sql.functions._
    // restore REPLACES the live entry set, so an append landing between
    // its observation and its claim would be silently dropped from the
    // restored line — the guard must fail loudly, never lose the append
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_restore_guard").resolve("t").toUri)
    val df = spark.range(1000).toDF("id")
    Sources.manifestAppend(spark, root, df.filter(col("id") < 500), 1)  // v1
    Sources.manifestAppend(spark, root, df.filter(col("id") >= 500), 1) // v2
    val (observed, _) = Sources.currentManifest(spark, root)
    // a concurrent append lands after the observation
    Sources.manifestAppend(spark, root, spark.range(1000, 1100).toDF("id"), 1) // v3
    val e = intercept[IllegalStateException] {
      Sources.manifestRestoreFrom(spark, root, 1L, observed)
    }
    assert(e.getMessage.contains("advanced"), e.getMessage)
    // nothing was lost: the live table still holds every append
    assert(Sources.manifestRead(spark, root).count() == 1100)
    // a fresh observation restores cleanly (single-writer contract met)
    Sources.manifestRestore(spark, root, 1L)
    assert(Sources.manifestRead(spark, root).count() == 500)
  }

  test("vacuum vs pinned time-travel reader: an in-retention version never loses files mid-scan") {
    import org.apache.spark.sql.functions._
    // the adversarial window: a reader RESOLVES version v's file list,
    // then the live layout churns (compaction + append) and vacuum
    // sweeps with zero grace. While v is inside the retention window
    // the resolved scan must keep completing against the original
    // files — survival is the keep-set contract (every file any
    // retained manifest references is kept), never reader luck.
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_pin_spec").resolve("t").toUri)
    val df = spark.range(12000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    Sources.manifestAppend(spark, root, df.filter(col("id") % 10 =!= 0), 1)  // v1
    Sources.manifestAppend(spark, root, df.filter(col("id") % 10 === 0), 24) // v2
    // pin BEFORE the churn: the plan resolves v2's exact file set once
    val pinned = Sources.manifestReadAt(spark, root, 2L)
    val want = df.agg(sum("id"), count(lit(1))).head()
    assert(pinned.agg(sum("id"), count(lit(1))).head() == want)
    // live layout churns: compaction rewrites the 24 smalls (v3), an
    // append lands (v4) — v2's small files are now referenced only by
    // the v1/v2 manifests, exactly what a careless vacuum would eat
    assert(Sources.manifestCompactSmallFiles(spark, root,
      targetFileBytes = 1L << 30, smallFloorBytes = 8192L) == 1)             // v3
    Sources.manifestAppend(spark, root,
      spark.range(12000, 12100).toDF("id")
        .withColumn("payload", md5(col("id").cast("string"))), 1)            // v4
    // interleaved reader/vacuum storm at a window covering v2: every
    // mid-vacuum re-scan of the pinned frame must see exact v2 content
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val reader = new Thread(() => {
      try (0 until 6).foreach { _ =>
        assert(pinned.agg(sum("id"), count(lit(1))).head() == want,
          "pinned v2 scan drifted while vacuum ran")
      } catch { case e: Throwable => failures.add(e); () }
    })
    reader.start()
    (0 until 6).foreach { _ =>
      Sources.manifestVacuum(spark, root, retainVersions = 3, graceMs = 0L)
    }
    reader.join()
    assert(failures.isEmpty, s"pinned reader lost files mid-scan: ${failures.peek()}")
    // a fresh resolve at v2 still works too — the manifest survived
    assert(Sources.manifestReadAt(spark, root, 2L)
      .agg(sum("id"), count(lit(1))).head() == want)
    // the boundary is the RETENTION WINDOW, not vacuum timing: once v2
    // falls outside it, its manifest and small files are reclaimed, a
    // new resolve fails loudly, and the stale plan errors rather than
    // silently shrinking its result
    assert(Sources.manifestVacuum(spark, root, retainVersions = 1, graceMs = 0L) > 0)
    intercept[IllegalArgumentException] { Sources.manifestFilesAt(spark, root, 2L) }
    val stale = scala.util.Try(pinned.agg(sum("id"), count(lit(1))).head())
    assert(stale.isFailure || stale.get == want,
      "out-of-retention scan silently returned wrong content")
    // live read is untouched throughout
    assert(Sources.manifestRead(spark, root).count() == 12100)
  }

  test("nonce sweep reclaims per-invocation scratch but spares published artifacts") {
    // the sweep must not touch scratchPath publishes — their in-JVM
    // registries (semdedup keep-list, CC clusters) would dangle
    val pub = Sources.scratchPath("sweep_spec_publish")
    java.nio.file.Files.createDirectories(pub)
    val marker = pub.resolve("keep.txt")
    java.nio.file.Files.write(marker, "keep".getBytes)
    val nonceDir = new java.io.File(new java.net.URI(
      Sources.nonceRoot("sweep_spec", "somedir").toUri.toString))
    java.nio.file.Files.createDirectories(nonceDir.toPath)
    java.nio.file.Files.write(nonceDir.toPath.resolve("scratch.txt"), "tmp".getBytes)
    Sources.sweepNonceRoots()
    assert(!nonceDir.exists, "sweep left the nonce root behind")
    assert(java.nio.file.Files.exists(marker),
      "sweep destroyed a published artifact — registries now dangle")
  }

  test("MERGE commits atomically: a racing reader never sees keys deleted but not replaced") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_merge_spec").resolve("t").toUri)
    val df = spark.range(5000).toDF("id")
      .withColumn("tag", lit("orig"))
    Sources.manifestAppend(spark, root, df, 4)
    val updates = df.filter(col("id") % 5 === 0).withColumn("tag", lit("merged"))
    val nUpd = 1000L
    // reader loops the merged view while the MERGE commits: every read
    // must see EITHER the pre-merge state (5000 orig) or the post-merge
    // state (4000 orig + 1000 merged) — never the torn middle the
    // delete-then-append pair exposes (keys gone, replacements absent)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val writer = new Thread(() => {
      try { Sources.manifestMerge(spark, root, updates, Seq("id"), 2); () }
      catch { case e: Throwable => failures.add(e); () }
    })
    var sawNew = false
    writer.start()
    while ((writer.isAlive || !sawNew) && failures.isEmpty) {
      val counts = Sources.manifestReadMerged(spark, root)
        .groupBy("tag").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = counts.values.sum
      val merged = counts.getOrElse("merged", 0L)
      assert(total == 5000L,
        s"torn MERGE state: total $total (counts $counts)")
      assert(merged == 0L || merged == nUpd,
        s"torn MERGE state: $merged of $nUpd replacements visible")
      if (merged == nUpd) sawNew = true
    }
    writer.join()
    assert(failures.isEmpty, s"merge died: ${failures.peek()}")
    assert(sawNew, "reader never observed the committed merge")
    // exactly ONE version was committed for the whole upsert
    assert(Sources.currentManifest(spark, root)._1 == 2L)
    // time travel to v1 = the pre-merge table
    assert(Sources.manifestReadAt(spark, root, 1L)
      .filter(col("tag") === "merged").count() == 0)
    // applyDeletes folds the merge's delete in with an identical view
    Sources.manifestApplyDeletes(spark, root, 2)
    val after = Sources.manifestReadMerged(spark, root)
    assert(after.count() == 5000 &&
      after.filter(col("tag") === "merged").count() == nUpd)
  }

  test("manifest history reads the snapshot log from metadata only") {
    val out = Sources.manifestHistoryRead(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 0L, 0L),   // good append, one shard
      (2L, 5L, 0L, 0L),   // +4 shards
      (3L, 5L, 1L, 0L),   // +1 equality-delete file
      (4L, 1L, 0L, 0L)),  // restore re-commits v1's entry set
      s"unexpected history: ${out.toSeq}")
  }

  test("a regressed pointer heals through the next commit's janitor + repair cascade") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_regress_spec").resolve("t").toUri)
    val df = spark.range(3000).toDF("id")
    Sources.manifestAppend(spark, root, df.filter(col("id") < 1000), 1)
    Sources.manifestAppend(spark, root,
      df.filter(col("id") >= 1000 && col("id") < 2000), 1)
    Sources.manifestAppend(spark, root,
      df.filter(col("id") >= 2000 && col("id") < 2500), 1)
    assert(Sources.currentManifest(spark, root)._1 == 3L)
    // simulate the residual swap race: a stale rename lands LAST and the
    // pointer regresses to m-1 (writing the pointer raw, as swapPointer
    // does)
    val ptr = java.nio.file.Paths.get(new java.net.URI(
      new org.apache.hadoop.fs.Path(root, "_current").toString))
    java.nio.file.Files.write(ptr, "m-1.txt\n".getBytes("UTF-8"))
    // a reader inside the window sees the OLDER but CONSISTENT snapshot
    val (rv, _) = Sources.currentManifest(spark, root)
    assert(rv == 1L)
    assert(Sources.manifestRead(spark, root).count() == 1000)
    // the next commit heals through the cascade: it observes v1, its
    // claim of v2 conflicts, the janitor rolls the pointer forward over
    // the complete v2/v3 (swapOnce + repair loop), and the retry lands
    // the append at v4 on top of v3's full entry set — nothing lost
    val landed = Sources.manifestAppend(spark, root, df.filter(col("id") >= 2500), 1)
    assert(landed == 4L, s"append landed at v$landed, expected v4")
    assert(Sources.currentManifest(spark, root)._1 == 4L,
      "pointer did not heal to the new version")
    assert(Sources.manifestRead(spark, root).count() == 3000,
      "the healed chain lost rows")
  }

  test("a pointer naming a reclaimed manifest falls back to the newest complete version") {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifest_zombie_spec").resolve("t").toUri)
    val df = spark.range(1000).toDF("id")
    Sources.manifestAppend(spark, root, df.filter(col("id") < 600), 1)
    Sources.manifestAppend(spark, root, df.filter(col("id") >= 600), 1)
    // simulate the zombie-claimant window: _current names m-2 but the
    // janitor reclaimed it — reads must fall back to v1, not throw
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_manifests/m-2.txt"), false)
    val (v, lines) = Sources.currentManifest(spark, root)
    assert(v == 1L, s"fallback resolved v$v, expected the complete v1")
    assert(Sources.dataEntries(lines).nonEmpty)
    assert(Sources.manifestRead(spark, root).count() == 600)
    // the next commit heals the pointer
    Sources.manifestAppend(spark, root, df.filter(col("id") >= 600), 1)
    assert(Sources.manifestRead(spark, root).count() == 1000)
  }

  test("a failed exact-version commit leaves no _schema.json and no staged files") {
    import org.apache.spark.sql.functions._
    // ADVICE r18 (medium): persistSchema used to land BEFORE the claim,
    // so a claim loser left _schema.json on a table that never
    // committed — emptyLike then returned a TYPED empty frame for a
    // never-built table, masking build races (the silent empty-centroid
    // window). Pre-claim v1 so the append's commit loses
    // deterministically, then assert the loser left NOTHING behind.
    val dir = java.nio.file.Files.createTempDirectory("schema_timing_spec")
    val root = new org.apache.hadoop.fs.Path(dir.resolve("t").toUri)
    val rootDir = java.nio.file.Paths.get(new java.net.URI(root.toString))
    java.nio.file.Files.createDirectories(rootDir.resolve("_manifests"))
    java.nio.file.Files.writeString(
      rootDir.resolve("_manifests").resolve("m-1.txt"), "")
    val df = spark.range(50).toDF("id")
    assert(!Sources.manifestAppendExactly(spark, root, df, 1, 1L),
      "the pre-planted claim must make this commit lose")
    assert(!java.nio.file.Files.exists(rootDir.resolve("_schema.json")),
      "a never-committed table must carry no schema file")
    val dataDir = rootDir.resolve("data")
    assert(!java.nio.file.Files.exists(dataDir) ||
      !java.nio.file.Files.list(dataDir).findAny().isPresent,
      "the loser's staged data/a-<nonce> dir must be reclaimed")
    // and the read is the LOUD zero-column empty, not a typed mask
    assert(Sources.manifestRead(spark, root).schema.isEmpty,
      "a never-committed table must read as the zero-column frame")

    // non-conflict failures (schema drift) also reclaim their staged
    // copy instead of stranding it
    val root2 = new org.apache.hadoop.fs.Path(dir.resolve("t2").toUri)
    assert(Sources.manifestAppendExactly(spark, root2, df, 1, 1L))
    intercept[Sources.SchemaEvolutionViolation] {
      Sources.manifestAppendExactly(spark, root2,
        df.withColumnRenamed("id", "di"), 1, 2L)
    }
    val staged = java.nio.file.Files.list(
      java.nio.file.Paths.get(new java.net.URI(root2.toString)).resolve("data"))
      .toArray.length
    assert(staged == 1,
      s"only the committed v1 dir may remain under data/ (found $staged)")
    // the successful commit did persist the schema (post-commit widen)
    assert(java.nio.file.Files.exists(java.nio.file.Paths
      .get(new java.net.URI(root2.toString)).resolve("_schema.json")))
  }

  test("a newer manifest format is rejected loudly, never misparsed") {
    // ADVICE r18: entry kinds grow (the 5-field delete line); a reader
    // older than the format must FAIL, not fold fields it doesn't know
    // into the wrong column. Every commit stamps `#graft-format N`;
    // reads reject N above their support level.
    val dir = java.nio.file.Files.createTempDirectory("manifest_format_spec")
    val root = new org.apache.hadoop.fs.Path(dir.resolve("t").toUri)
    Sources.manifestAppend(spark, root, spark.range(10).toDF("id"), 1)
    val mdir = java.nio.file.Paths.get(new java.net.URI(root.toString))
      .resolve("_manifests")
    val v1 = java.nio.file.Files.readString(mdir.resolve("m-1.txt"))
    assert(v1.linesIterator.next() == "#graft-format 1",
      "every commit must stamp its format as the first body line")
    // hand-write a FUTURE-format v2 manifest (same file set) and point
    // the table at it — the shape an upgraded writer would leave for a
    // reader at this level
    val futureBody = "#graft-format 2\n" + v1.linesIterator
      .filterNot(_.startsWith("#")).mkString("\n") + "\n#eof\n"
    java.nio.file.Files.writeString(mdir.resolve("m-2.txt"), futureBody)
    java.nio.file.Files.writeString(java.nio.file.Paths
      .get(new java.net.URI(root.toString)).resolve("_current"), "m-2.txt\n")
    intercept[Sources.ManifestFormatUnsupported] {
      Sources.currentManifest(spark, root)
    }
    intercept[Sources.ManifestFormatUnsupported] {
      Sources.manifestReadAt(spark, root, 2L)
    }
    // in-format versions keep reading through the explicit-version path
    assert(Sources.manifestReadAt(spark, root, 1L).count() == 10)
  }
}
