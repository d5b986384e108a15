package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one way to build the engine's Spark session and to run a query on
  * it. Bench, Verify, ScaleCheck, the specs and the dev tools all go
  * through here, so they plan with the same config and leave the session
  * in the same state after every query. */
object Harness {

  /** One run of one query. `seconds` covers building the frame and the
    * sink; `rows` is the row count of the frame the sink consumed, -1
    * when the run failed; `error` is the failure's message. */
  final case class QueryRecord(ok: Boolean, seconds: Double, rows: Long, error: Option[String])

  /** A local session on `cpus` cores with the engine's config; entries of
    * `extraConf` override or extend it. */
  def session(cpus: Int, extraConf: Map[String, String] = Map.empty): SparkSession = {
    val conf = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.extensions" -> "graft.ext.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      // events.parquet carries TIMESTAMP(NANOS); Tables.load rebuilds it
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.cbo.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      // on a CPU-starved host the local executor's heartbeat misses the
      // default 10 s ask and the executor is killed mid-run; the network
      // timeout must stay above the interval
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.network.timeout" -> "600s") ++ extraConf
    val spark = SparkSession.builder().config(conf).getOrCreate()
    // the suite's deliberate small-frame windows each log a
    // single-partition WARN; at ERROR the log keeps only failures
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The default sink: materializes every output column, where `count()`
    * would let Catalyst prune the projections being measured. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private lazy val watchdogs = new java.util.Timer("harness-watchdog", true)

  /** Build `frame` and hand it to `sink` under job group `name`, then
    * release everything the query left in the session: its scoped caches,
    * anything else cached, and its nonce scratch directories. With a
    * `cap` (seconds) the job group is cancelled from then on until the
    * run returns. The row count comes from an observation on the frame,
    * so it costs no extra job. */
  def run(spark: SparkSession, name: String, frame: => DataFrame,
      sink: DataFrame => Unit = noop, cap: Option[Double] = None): QueryRecord = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name, interruptOnCancel = true)
    // repeating: cancelJobGroup only cancels the jobs running at that
    // instant, so a multi-job query (or one still planning at the cap)
    // needs the cancel re-asserted until the run returns
    val watchdog = cap.map { secs =>
      val task = new java.util.TimerTask { def run(): Unit = sc.cancelJobGroup(name) }
      watchdogs.scheduleAtFixedRate(task, (secs * 1000).toLong, 1000L)
      task
    }
    val observed = Observation()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    try {
      sink(frame.observe(observed, count(lit(1)).as("rows")))
      val seconds = elapsed
      // the metric arrives through the listener bus; a sink that never
      // ran an action on the frame leaves it unset
      val rows = scala.util.Try(scala.concurrent.Await.result(
        observed.future, scala.concurrent.duration.Duration(60, "s")).getLong(0))
      QueryRecord(ok = true, seconds, rows.getOrElse(-1L), None)
    } catch {
      case e: Throwable => QueryRecord(ok = false, elapsed, -1L, Some(String.valueOf(e.getMessage)))
    } finally {
      watchdog.foreach(_.cancel())
      sc.clearJobGroup()
      CacheScope.release()
      spark.catalog.clearCache()
      etl.Sources.sweepNonceRoots()
    }
  }
}
