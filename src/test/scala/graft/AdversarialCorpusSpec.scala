package graft

import org.apache.spark.sql.functions._

/** Pathological-content floor for the whole query surface: real crawls
  * deliver empty strings, whitespace runs, nulls, megadocs, unbroken
  * token walls, and every Unicode plane — and an operator that crashes
  * on one weird document takes the partition down with it. Every
  * registered query must tolerate a corpus made ENTIRELY of such
  * documents (events/embeddings ride along from the normal fixture so
  * non-document queries still exercise their paths). */
class AdversarialCorpusSpec extends SparkSpec {

  private lazy val advDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_adv_sf_").toString
    // non-document tables unchanged — the sweep targets text handling
    Tables.testdataTables.filterNot(_ == "documents").foreach { t =>
      Tables.load(spark, sfDir, t)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    import spark.implicits._
    val mega = ("lorem ipsum dolor sit amet " * 4000).trim            // ~108k chars
    val wall = "x" * 50000                                            // one 50k token
    val docs = Seq(
      (0L, "", "en", "src0"),                                         // empty
      (1L, "   \t  \n  ", "en", "src0"),                              // whitespace only
      (2L, null.asInstanceOf[String], "en", "src1"),                  // null text
      (3L, "a", "en", "src1"),                                        // single char
      (4L, mega, "en", "src2"),                                       // megadoc
      (5L, wall, "de", "src2"),                                       // unbroken token wall
      (6L, "汉字 テスト 한글 🌍🚀 مرحبا بالعالم עברית é́", "zh", "src3"), // CJK/emoji/RTL/combining
      (7L, "tab\tsep\nnew\r\nline  double  space", "en", "src3"),
      (8L, "the the the the the the the the", "en", "src4"),          // pure repetition
      (9L, "normal looking sentence with several plain tokens", "en", "src4"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", coalesce(length(col("text")).cast("long"), lit(0L)))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("EVERY registered query tolerates pathological document content (no-throw)") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val rec = Harness.run(spark, name, fn(spark, advDir), sink = _.count())
      rec.error.map(e => s"$name: ${e.linesIterator.take(1).mkString.take(160)}")
    }
    assert(failures.isEmpty,
      s"${failures.size} queries throw on pathological content:\n  ${failures.mkString("\n  ")}")
  }
}
