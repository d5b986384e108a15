package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable
import scala.util.Try

/** Times every registry query at one scale factor and prints one JSON
  * line; the full per-query record goes to a file. Configured by
  * environment: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_REPS, SPARK_GRAFT_BENCH_ONLY (comma-separated
  * allowlist), SPARK_GRAFT_BENCH_DEADLINE_SEC, SPARK_GRAFT_BENCH_OUT. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Harness.session(cpus)
    // warm-up: session, codegen and JIT startup are not charged to the
    // first timed query
    Try(Harness.noop(Tables.load(spark, sfDir, "lineitem").groupBy("l_returnflag").count()))
    // min of N cold runs per query: this host swings identical self-join
    // queries 2-8x run to run (PERF.md), and the minimum is the low-noise
    // estimator for a deterministic workload
    val reps = math.max(1,
      Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt).getOrElse(3))
    val only = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // Degrade, don't die: a healthy suite finishes well inside the
    // deadline, so it only bites on a badly oversubscribed host, where
    // partial data (skipped queries named) beats no artifact.
    val deadlineSec = Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "1200").toDouble).getOrElse(1200.0)
    val suiteT0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - suiteT0) / 1e9

    // Host-weather sentinel: a fixed CPU-bound workload (4e9 codegen
    // xxhash64 folds over range, no IO), min of 3, before and after the
    // suite. A loaded or throttled host inflates it by the same factor it
    // inflates every query, so a cross-run ratio divided by the sentinel
    // ratio approximates the code effect.
    def sentinelRun(): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Harness.noop(spark.range(0L, 4000000000L, 1L, cpus)
          .select(org.apache.spark.sql.functions.expr("bit_xor(xxhash64(id))")))
        (System.nanoTime() - t0) / 1e9
      }.min
    @volatile var sentinelBefore: Double = -1.0
    @volatile var sentinelAfter: Double = -1.0

    // per query, its runs so far; the shutdown hook reads it under `acc`
    val acc = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Harness.QueryRecord]]()
    val skipped = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val printed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def emit(partial: Boolean): Unit = if (printed.compareAndSet(false, true)) {
      import scala.jdk.CollectionConverters._
      val results = acc.synchronized {
        acc.toSeq.map { case (k, runs) =>
          // stats over successful reps only, so a fast failure cannot pass
          // for a good time; if every rep failed, the slowest is reported
          val succ = runs.filter(_.ok).map(_.seconds)
          val pool = if (succ.nonEmpty) succ.toSeq else Seq(runs.map(_.seconds).max)
          (k, pool.min, pool.max, runs.length)
        }
      }
      val total = results.map(_._2).sum
      val skippedJson = jsonList(skipped.asScala.toSeq.sorted)
      val meta = s"""{"commit":"${gitCommit()}","date":"${java.time.LocalDate.now()}","generator":"graft.Bench"}"""
      // allowlisted re-measurements default to their own file, so they
      // never replace the full-suite record
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        if (only.isEmpty) "bench_out.json" else "bench_adjudication.json")
      val sentinelJson = s"""{"before":$sentinelBefore,"after":$sentinelAfter}"""
      val head = s""""metric":"total","value":$total,"unit":"sec","reps":$reps,"cpus":$cpus"""
      // the file keeps full precision and each query's [min, max] spread
      val queries = jsonMap(results.map(r => r._1 -> r._2))
      val spreads = jsonMap(results.map(r => r._1 -> s"[${r._2},${r._3}]"))
      val repsDone = jsonMap(results.map(r => r._1 -> r._4))
      // the canonical record replaces its file; other records append, so
      // re-measurements accumulate as history
      Try(writeLine(outPath, s"""{$head,"partial":$partial,"skipped":$skippedJson,"sentinel":$sentinelJson,"queries":$queries,"spreads":$spreads,"reps_done":$repsDone,"sf":"$sfDir","meta":$meta}""",
        append = !isCanonicalStamp(outPath)))
      // stdout carries the per-query map too, at millisecond precision to
      // keep the line compact
      val minReps = if (results.isEmpty) 0 else results.map(_._4).min
      val rounded = jsonMap(results.map(r =>
        r._1 -> BigDecimal(r._2).setScale(3, BigDecimal.RoundingMode.HALF_UP)))
      println(s"""{$head,"min_reps_done":$minReps,"n_queries":${results.length},"partial":$partial,"skipped":$skippedJson,"sentinel":$sentinelJson,"queries":$rounded,"detail":"$outPath","sf":"$sfDir","meta":$meta}""")
      System.out.flush()
    }
    // an external `timeout` TERMs the JVM but shutdown hooks still run:
    // publish whatever finished instead of nothing
    Runtime.getRuntime.addShutdownHook(new Thread(() => emit(partial = true)))

    val byName = SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) }
    def runOnce(name: String): Harness.QueryRecord =
      Harness.run(spark, name, byName(name)(spark, sfDir))
    sentinelBefore = Try(sentinelRun()).getOrElse(-1.0)
    repMajorLoop(byName.keys.toSeq.sorted, reps, deadlineSec, elapsed,
      recordedMin = name => acc.synchronized(acc.get(name).map(_.map(_.seconds).min)),
      runOne = name => {
        val rec = runOnce(name)
        acc.synchronized(acc.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += rec)
      },
      skip = name => { skipped.add(name); () })
    sentinelAfter = Try(sentinelRun()).getOrElse(-1.0)

    // Outlier adjudication: after a full suite, each query whose in-suite
    // min exceeds the committed stamp's by the selection rule is re-run
    // in isolation (5 back-to-back reps), worst first, at most
    // [[AdjudicateCap]] of them and only while the run is under 1.5x its
    // deadline; the record appends to bench_adjudication.json and names
    // the queries it dropped.
    if (only.isEmpty) {
      val committed = committedStampQueries(Some(cpus))
      val inSuite = acc.synchronized(acc.toSeq.flatMap { case (k, runs) =>
        runs.filter(_.ok).map(_.seconds).minOption.map(k -> _)
      }.toMap)
      val targets = adjudicationTargets(committed, inSuite)
      if (targets.nonEmpty) {
        val isolated = mutable.LinkedHashMap[String, Seq[Double]]()
        targets.sortBy(q => -(inSuite(q) / committed(q))).take(AdjudicateCap).foreach { name =>
          if (elapsed() <= deadlineSec * 1.5)
            isolated(name) = (1 to 5).map(_ => runOnce(name).seconds)
        }
        val isoJson = jsonMap(isolated.toSeq.map { case (q, ts) =>
          q -> s"""{"min":${ts.min},"max":${ts.max},"committed_min":${committed(q)},"suite_min":${inSuite(q)}}"""
        })
        val dropped = jsonList(targets.filterNot(isolated.contains).sorted)
        Try(writeLine("bench_adjudication.json",
          s"""{"auto":true,"rule":"suite_min > ${AdjudicateRatio}x committed_min && delta > ${AdjudicateMinDelta}s","date":"${java.time.LocalDate.now()}","isolated":$isoJson,"dropped":$dropped}""",
          append = true))
      }
    }
    emit(partial = false)
    spark.stop()
  }

  private def jsonMap(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private[graft] def jsonList(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  private def writeLine(path: String, line: String, append: Boolean): Unit = {
    val bytes = (line + "\n").getBytes(UTF_8)
    if (append) Files.write(Paths.get(path), bytes, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    else Files.write(Paths.get(path), bytes)
  }

  /** The short HEAD commit for the record's provenance; "unknown" when
    * git is unavailable. */
  private def gitCommit(): String = Try {
    val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes()).trim
    p.waitFor(); if (out.matches("[0-9a-f]{6,}")) out else "unknown"
  }.getOrElse("unknown")

  /** Selection rule for the outlier adjudication: a query is re-measured
    * when its in-suite min is more than [[AdjudicateRatio]]x its
    * committed-stamp min AND the delta exceeds [[AdjudicateMinDelta]]
    * seconds, so sub-second jitter on tiny queries does not spend the
    * budget the real regressors need. */
  private[graft] val AdjudicateRatio = 2.0
  private[graft] val AdjudicateMinDelta = 0.3
  private[graft] val AdjudicateCap = 10

  private[graft] def adjudicationTargets(
      committed: Map[String, Double], inSuite: Map[String, Double],
      ratio: Double = AdjudicateRatio,
      minDelta: Double = AdjudicateMinDelta): Seq[String] =
    inSuite.collect { case (q, t) if committed.get(q).exists(c =>
      c > 0 && t > ratio * c && t - c > minDelta) => q }.toSeq.sorted

  /** Whether `outPath` is the canonical full-suite record, decided by
    * file name so that './bench_out.json' or an absolute path is still
    * overwritten rather than appended to. */
  private[graft] def isCanonicalStamp(outPath: String): Boolean =
    Try(Paths.get(outPath).getFileName.toString).getOrElse(outPath) == "bench_out.json"

  /** The repo root: the first directory holding `.git` above where this
    * class was loaded from, else above the working directory. The bench
    * may be launched from any directory, so the stamp read must not
    * depend on the launcher's cwd. */
  private[graft] def repoRoot(): Option[java.io.File] = {
    def walkUp(start: => java.io.File): Option[java.io.File] =
      Try(Iterator.iterate(start)(_.getParentFile).takeWhile(_ != null)
        .find(d => new java.io.File(d, ".git").exists())).toOption.flatten
    walkUp(new java.io.File(Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI))
      .orElse(walkUp(new java.io.File(".").getCanonicalFile))
  }

  /** Per-query min map of the committed bench_out.json (HEAD, via `git
    * show` at the repo root: the working-tree file is this run's own
    * output slot). Empty, and logged, when no stamp is readable or it
    * ran on other than `cpus` cores, so a disarmed adjudication pass is
    * visible in the run output. */
  private[graft] def committedStampQueries(cpus: Option[Int] = None): Map[String, Double] = {
    val res = Try {
      val pb = new ProcessBuilder("git", "show", "HEAD:bench_out.json")
        .redirectErrorStream(false)
      repoRoot().foreach(pb.directory)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), UTF_8)
      p.waitFor()
      parseStampQueries(out, cpus)
    }.getOrElse(Map.empty)
    if (res.isEmpty)
      System.err.println(
        "[bench] no comparable committed bench_out.json stamp " +
          s"(repoRoot=${repoRoot().map(_.toString).getOrElse("unresolved")}) " +
          "— automatic adjudication disabled this run")
    res
  }

  /** The `"queries"` map of a bench stamp line. A stamp that records a
    * `cpus` other than `cpus` reads as empty, because timings at another
    * core count do not compare; a stamp without the field is read. */
  private[graft] def parseStampQueries(json: String, cpus: Option[Int] = None): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val stampCpus = Option(root.get("cpus")).map(_.asInt)
    if (cpus.nonEmpty && stampCpus.nonEmpty && cpus != stampCpus) {
      System.err.println(s"[bench] committed stamp ran on ${stampCpus.get} cpus, " +
        s"this run on ${cpus.get}: not compared")
      Map.empty
    } else root.path("queries").fields().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toMap
  }

  /** Rep-major scheduling: pass 1 runs every query once, then passes
    * 2..reps re-run the suite as budget allows, so deadline pressure
    * costs reps roughly uniformly and never the pass-1 measurement of
    * the suite's tail. A query whose recorded min already exceeds
    * deadline/10 keeps its measurement and sits out later passes, so one
    * slow query cannot eat the rest of the budget.
    *
    * @param recordedMin the query's best recorded seconds so far, None
    *                    if it never ran (supplied by the caller's
    *                    accumulator so the shutdown hook sees live state)
    * @param skip        called (pass 1 only) for queries the deadline
    *                    prevented from ever running */
  private[graft] def repMajorLoop(
      names: Seq[String], reps: Int, deadlineSec: Double,
      elapsed: () => Double,
      recordedMin: String => Option[Double],
      runOne: String => Unit,
      skip: String => Unit): Unit = {
    val queryCapSec = deadlineSec / 10
    var pass = 0
    while (pass < reps && elapsed() < deadlineSec) {
      names.foreach { name =>
        if (pass == 0) {
          if (elapsed() > deadlineSec) skip(name) else runOne(name)
        } else if (recordedMin(name).exists(_ < queryCapSec) &&
                   elapsed() < deadlineSec) {
          runOne(name)
        }
      }
      pass += 1
    }
  }
}
