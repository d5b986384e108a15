package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.parquetSchema` gives the schema Spark's own inference gives,
  * field by field (name, type, nullability, metadata), or `None` where
  * Spark must decide. If a Spark upgrade changes how inference picks or
  * converts its footer, these specs fail. */
class TablesSpec extends SparkSpec {

  import spark.implicits._

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def assertSameSchema(s: SparkSession, path: String): Unit = {
    val inferred = s.read.parquet(path).schema
    val declared = Tables.parquetSchema(s, path)
    assert(declared.isDefined, s"no footer schema for $path")
    assert(declared.get.fields.toSeq == inferred.fields.toSeq, path)
    assert(Tables.readParquet(s, path).schema == inferred, path)
  }

  /** Spark's inference and the footer read defer alike: `None`, and
    * `readParquet` gives Spark's own schema. */
  private def assertDefers(s: SparkSession, path: String): Unit = {
    assert(Tables.parquetSchema(s, path).isEmpty, path)
    assert(Tables.readParquet(s, path).schema == s.read.parquet(path).schema, path)
  }

  /** Both reads fail, with Spark's own error. */
  private def assertSameError(s: SparkSession, path: String): Unit = {
    assert(Tables.parquetSchema(s, path).isEmpty, path)
    val spark = intercept[Exception](s.read.parquet(path))
    val ours = intercept[Exception](Tables.readParquet(s, path))
    assert(ours.getClass == spark.getClass && ours.getMessage == spark.getMessage, path)
  }

  /** A parquet file Spark cannot write: `ts` is INT64 TIMESTAMP(NANOS),
    * as pandas and arrow write it, and `id` is required. */
  private def writeNanosTable(dir: String): String = {
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val table = s"$dir/events.parquet"
    val w = ExampleParquetWriter.builder(new Path(s"$table/part-0.parquet")).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try {
      w.write(rows.newGroup().append("id", 1L).append("ts", 1700000000123456000L))
      w.write(rows.newGroup().append("id", 2L).append("ts", 1700000001000001000L))
    } finally w.close()
    table
  }

  test("parquetSchema equals the inferred schema of every testdata table, NTZ on and off") {
    val ntzOff = spark.newSession()
    ntzOff.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    Tables.testdataTables.foreach { t =>
      val path = s"$sfDir/$t.parquet"
      assertSameSchema(spark, path)
      assertSameSchema(ntzOff, path)
    }
    assert(Tables.parquetSchema(spark, s"$sfDir/events.parquet").get("ts").dataType == TimestampNTZType)
    assert(Tables.parquetSchema(ntzOff, s"$sfDir/events.parquet").get("ts").dataType == TimestampType)
    assert(Tables.load(spark, sfDir, "events").schema("ts").dataType == TimestampType)
  }

  test("nanos timestamps read as long under nanosAsLong; without it Spark raises its own error") {
    val dir = tempDir("graft-nanos")
    val table = writeNanosTable(dir)
    assertSameSchema(spark, table)
    assert(Tables.parquetSchema(spark, table).get("ts").dataType == LongType)
    // Tables.load rebuilds the microsecond timestamp from the nanos
    val ts = Tables.load(spark, dir, "events").orderBy("id").select(col("ts").cast("string"))
      .as[String].collect().toSeq
    assert(ts == Seq("2023-11-14 22:13:20.123456", "2023-11-14 22:13:21.000001"))
    val strict = spark.newSession()
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assertSameError(strict, table)
  }

  test("Spark-written tables: appended twice, column metadata, rewritten, summary files") {
    val dir = tempDir("graft-written")
    val table = s"$dir/t.parquet"
    val meta = new MetadataBuilder().putString("comment", "row key").build()
    val df = Seq((1L, "a"), (2L, null)).toDF("id", "v").select(col("id").as("id", meta), col("v"))
    df.write.mode("append").parquet(table)
    df.write.mode("append").parquet(table)
    assertSameSchema(spark, table)
    assert(Tables.parquetSchema(spark, table).get("id").metadata == meta)

    // nothing is cached: a rewrite with another schema is seen at once
    Seq((1.5, true)).toDF("x", "y").write.mode("overwrite").parquet(table)
    assertSameSchema(spark, table)
    assert(Tables.parquetSchema(spark, table).get.fieldNames.toSeq == Seq("x", "y"))

    // a summary file wins over the data files, `_common_metadata` first
    def dataFile(t: String) = new java.io.File(t).listFiles().filter(_.getName.startsWith("part-")).head.toPath
    val other = s"$dir/other.parquet"
    Seq(("k", 1)).toDF("name", "n").write.parquet(other)
    Files.copy(dataFile(other), Paths.get(table, "_metadata"))
    assertSameSchema(spark, table)
    assert(Tables.parquetSchema(spark, table).get.fieldNames.toSeq == Seq("name", "n"))
    Files.copy(dataFile(table), Paths.get(table, "_common_metadata"))
    assertSameSchema(spark, table)
    assert(Tables.parquetSchema(spark, table).get.fieldNames.toSeq == Seq("x", "y"))
  }

  test("partitioned, schema-merged and empty directories defer to Spark") {
    val dir = tempDir("graft-defer")
    val parted = s"$dir/parted.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").write.partitionBy("p").parquet(parted)
    assertDefers(spark, parted)
    assert(Tables.readParquet(spark, parted).schema.fieldNames.toSeq == Seq("id", "p"))

    val merged = s"$dir/merged.parquet"
    Seq((1L, "a")).toDF("id", "v").write.parquet(merged)
    Seq((2L, 2.5)).toDF("id", "w").write.mode("append").parquet(merged)
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    assertDefers(merging, merged)
    assert(Tables.readParquet(merging, merged).schema.fieldNames.toSet == Set("id", "v", "w"))

    val empty = s"$dir/empty.parquet"
    Files.createDirectories(Paths.get(empty))
    assertSameError(spark, empty)
    assertSameError(spark, s"$dir/missing.parquet")
  }
}
