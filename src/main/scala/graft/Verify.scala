package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // a JSON string literal: a tab or CR in the SQL must not break the
    // checker's json.load
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def q(s: String): String = mapper.writeValueAsString(s)
    // Write the oracle map BEFORE running any query: if an external
    // timeout kills this JVM mid-dump, the checker can still grade every
    // query whose parquet made it out.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // dev-only isolation knob (unset in the driver's run = full dump)
    val only = sys.env.getOrElse("SPARK_GRAFT_VERIFY_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // Staleness-first dump order: queries ABSENT from the newest committed
    // CORRECTNESS_r*.json artifact (cwd = repo root in the driver's run)
    // dump first, so a truncated run always grades the least-recently-
    // graded surface; within each group the order stays sorted/stable.
    val graded: Set[String] = Option(new java.io.File(".").listFiles()).getOrElse(Array())
      .filter(f => f.getName.matches("CORRECTNESS_r\\d+\\.json"))
      .maxByOption(f => "\\d+".r.findFirstIn(f.getName).fold(0)(_.toInt))
      .map(latest => "\"([qx]\\d+[a-z0-9_]*)\"\\s*:\\s*\\{".r.findAllMatchIn(
        scala.util.Try(Files.readString(latest.toPath)).getOrElse("")).map(_.group(1)).toSet)
      .getOrElse(Set.empty)
    // Degrade, don't die: each query's job group is cancelled at the cap
    // so one storm-hit query can't starve the tail, and an overall
    // deadline skips (and names) the rest.
    val capSec = scala.util.Try(sys.env.getOrElse(
      "SPARK_GRAFT_VERIFY_QUERY_CAP_SEC", "150").toDouble).getOrElse(150.0)
    val deadlineSec = scala.util.Try(sys.env.getOrElse(
      "SPARK_GRAFT_VERIFY_DEADLINE_SEC", "1800").toDouble).getOrElse(1800.0)
    val t0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - t0) / 1e9
    // Kill-safe progress ledger: one JSON line per query, appended as it
    // finishes, so any truncation leaves an exact record of what ran,
    // what failed, what it cost and how many rows it dumped (comparing
    // two scale factors' ledgers surfaces a result that collapses to a
    // trivially-green 0-1 rows). Named .json so every checker's "*.json
    // is not a query dump" exclusion (tools/check.py) applies.
    val manifest = Paths.get(s"$outDir/manifest.json")
    def note(name: String, status: String, secs: Double, rows: Long = -1L): Unit =
      scala.util.Try(Files.writeString(manifest,
        s"""{"query":${q(name)},"status":${q(status)},"secs":${math.round(secs * 1000) / 1000.0},"rows":$rows}""" + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .sortBy { case (name, _) => graded(name) } // stable: false (stale) first
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      if (elapsed() > deadlineSec) {
        System.err.println(s"[verify] $name skipped: suite deadline ${deadlineSec}s exceeded")
        note(name, "skipped_deadline", 0.0)
      } else {
        val rec = Harness.run(spark, name, fn(spark, sfDir), cap = Some(capSec), sink = { df =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          // the deferred no-silent-caps report reads the query's cached
          // lineage, which the run releases after the sink
          ext.Dedup.drainCapLossReports()
        })
        if (rec.ok) note(name, "ok", rec.seconds, rec.rows)
        else {
          System.err.println(s"[verify] $name failed: ${rec.error.getOrElse("")}")
          note(name, "failed", rec.seconds)
        }
      }
    }
    spark.stop()
  }
}
