package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's JVM side: builds sessions, warms up, runs the closed-loop
  * timed window of one workload and writes every raw record (op times,
  * answer digests, spans, Spark events) to `<out>/result.json`. All
  * arithmetic on those records happens in `run.py`.
  *
  * Usage: perfbench.Main <workload> <inputDir> <outDir> <seconds> <trace 0|1> <seed> <cpus>
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val Array(workload, input, out, secondsS, traceS, seedS, cpusS) = argv
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val seed = seedS.toLong
    val cpus = cpusS.toInt
    val w = Workloads(workload, input, out)
    val clock = new Clock
    val json = new ArrayBuffer[String]

    // Set-up: the session (timed from JVM start) and one warm-up pass,
    // which also writes every answer to parquet for the reference check.
    // It runs once: a second warm-up in the same JVM would be warm.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = Session.create(cpus, out)
    val sessionS = (clock.now - jvmStart) / 1000.0
    val t1 = clock.now
    val warm = w.pass(seed, -1).map(name =>
      w.op(spark, name, clock, traced = false, checked = true, opIndex = -1))
    val setup = s"""{"session_s":$sessionS,"warmup_s":${(clock.now - t1) / 1000.0},"ops":[${warm.mkString(",")}]}"""

    // Timed window: whole passes until `seconds` have elapsed. A traced
    // run alternates untraced and traced passes, at least three, so that
    // one run gives both sides of the tracing overhead and the traced pass
    // sits between two untraced ones.
    val listener = new Listener(clock)
    val ops = new ArrayBuffer[String]
    val windowStart = clock.now
    var pass = 0
    def elapsed = (clock.now - windowStart) / 1000.0
    while (pass < w.minPasses || elapsed < seconds || (traced && pass < 3)) {
      val tracedPass = traced && pass % 2 == 1
      if (tracedPass) listener.attach(spark)
      w.pass(seed, pass).foreach { name =>
        ops += w.op(spark, name, clock, traced = tracedPass, checked = false, opIndex = pass)
      }
      if (tracedPass) listener.detach(spark)
      pass += 1
    }
    val windowEnd = clock.now

    val heapMb = liveHeapMb()
    json += s""""workload":${Json.str(workload)},"cpus":$cpus,"seed":$seed"""
    json += s""""setup":$setup"""
    json += s""""window":{"start":$windowStart,"end":$windowEnd,"passes":$pass}"""
    json += s""""ops":[${ops.mkString(",")}]"""
    json += s""""live_heap_mb":$heapMb"""
    json += s""""trace":${listener.json}"""
    json += s""""oracles":${w.oracles}"""
    Files.write(Paths.get(out, "result.json"),
      json.mkString("{", ",\n", "}\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Driver heap after full collections, in MiB: the least of five
    * readings 100 ms apart, so that blocks Spark's context cleaner frees
    * only after a collection (broadcasts, shuffle state) are not counted. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}

/** Wall clock in epoch milliseconds with nanosecond resolution, aligned
  * with the millisecond timestamps Spark puts on listener events. */
final class Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Spans recorded in traced passes: (id, parent, name, start, end). */
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  /** Time `body` as a span when `parent` is set; the body gets its own
    * span id so it can open child spans. */
  def span[T](name: String, parent: Option[Long])(body: Option[Long] => T): T = parent match {
    case None => body(None)
    case Some(p) =>
      val id = ids.incrementAndGet()
      val t0 = now
      try body(Some(id))
      finally spans.add(s"""{"id":$id,"parent":$p,"name":${Json.str(name)},"start":$t0,"end":$now}""")
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => str(d.toString)
    case d: Double => d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => str(d.toPlainString)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def rows(df: DataFrame): String = {
    val rs = df.collect()
    s"""{"columns":${df.columns.map(str).mkString("[", ",", "]")},"rows":${rs.map(value).mkString("[", ",", "]")}}"""
  }
}

/** Session settings of `graft.Bench`, listed in one place so that a shared
  * session factory can replace them. Spark scratch space stays under the
  * run's output directory. */
object Session {
  def create(cpus: Int, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(out, "hadoop-tmp").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** One op's answer as a digest gathered in the same pass as the sink
  * (`Dataset.observe`): row count, an order-independent hash of every
  * column, the same hash over the non-floating columns, and for each
  * floating column the sum of its values in units of 1e-4. The checker
  * compares each op's digest with the digest of the answer it checked
  * against the reference. */
object Digest {
  private def q(n: String) = col(s"`$n`")
  private def hsum(c: Column) = sum(c.cast("decimal(38,0)"))

  def exprs(df: DataFrame): Seq[Column] = {
    val fields = df.schema.fields.toSeq
    val all = xxhash64(fields.map(f => q(f.name)): _*)
    val exact = fields.filterNot(f => f.dataType == DoubleType || f.dataType == FloatType)
    val exactHash = if (exact.isEmpty) lit(0L) else xxhash64(exact.map(f => q(f.name)): _*)
    Seq(count(lit(1)).as("n"), hsum(all).as("h"), bit_xor(all).as("hx"),
      hsum(exactHash).as("he")) ++
      fields.filter(f => f.dataType == DoubleType || f.dataType == FloatType).zipWithIndex.map {
        case (f, i) =>
          val c = q(f.name).cast("double")
          hsum(when(c.isNull || isnan(c), lit(0.0)).otherwise(round(c * 1e4, 0)))
            .as(s"f$i:${f.name}")
      }
  }

  def render(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.str(String.valueOf(v))}" }
      .mkString("{", ",", "}")
}

/** The three workloads. Each op is timed from the benchmark's side of the
  * layer boundary; the program sees only the generated inputs. */
final class Workloads(val name: String, input: String, out: String) {

  val corpusOps: Seq[String] = Seq(
    "x03_dedup_minhash", "x115_span_dedup", "x43_dup_clusters",
    "x08_sim_topk_lsh", "x90_ann_recall")

  private val queries: Map[String, (SparkSession, String) => DataFrame] = name match {
    case "report_queries" => graft.analytics.Analytics.queries
    case "corpus_dedup" => corpusOps.map(q => q -> graft.SparkEntry.queries(q)).toMap
    case _ => Map.empty
  }

  private val opNames: Seq[String] =
    if (name == "etl_load") Seq("pipeline") else queries.keys.toSeq.sorted

  /** Timed passes a run makes at least. The median of one pass of the five
    * corpus queries is a single query's latency, and which query that is
    * changes from run to run; two passes give every query two samples. */
  val minPasses: Int = if (name == "corpus_dedup") 2 else 1

  /** The op names of one pass in a seeded order. */
  def pass(seed: Long, index: Int): Seq[String] =
    new Random(seed * 1000003L + index).shuffle(opNames)

  def layer(op: String): String =
    if (name == "etl_load") "etl"
    else if (op.startsWith("q")) "analytics"
    else if (op == "x43_dup_clusters") "ops"
    else "ext"

  def oracles: String =
    queries.keys.toSeq.sorted.map(q => s"${Json.str(q)}:${Json.str(graft.SparkEntry.oracleSql(q))}")
      .mkString("{", ",", "}")

  /** Run one op and return its JSON record; a traced op records spans. */
  def op(spark: SparkSession, op: String, clock: Clock, traced: Boolean,
         checked: Boolean, opIndex: Int): String = {
    val t0 = clock.now
    val (body, error) =
      try {
        (clock.span("op:" + op, if (traced) Some(0L) else None) { s =>
          if (name == "etl_load") etlOp(spark, clock, s, opIndex)
          else queryOp(spark, op, clock, s, checked)
        }, "")
      } catch { case e: Throwable => ("", s"${e.getClass.getName}: ${e.getMessage}") }
    val t1 = clock.now
    graft.CacheScope.release()
    spark.catalog.clearCache()
    val ok = error.isEmpty
    s"""{"op":${Json.str(op)},"pass":$opIndex,"traced":$traced,"start":$t0,"end":$t1,""" +
      s""""ok":$ok,"error":${Json.str(error)}${if (ok) "," + body else ""}}"""
  }

  private def queryOp(spark: SparkSession, op: String, clock: Clock, s: Option[Long],
                      checked: Boolean): String = {
    val l = layer(op)
    val df = clock.span(s"$l.build", s)(_ => queries(op)(spark, input))
    val obs = Observation()
    val digest = Digest.exprs(df)
    val observed = df.observe(obs, digest.head, digest.tail: _*)
    clock.span(s"$l.exec", s) { _ =>
      if (checked) observed.write.mode("overwrite").parquet(new File(out, s"checked/$op").getPath)
      else observed.write.format("noop").mode("overwrite").save()
    }
    s""""digest":${Digest.render(obs.get)}"""
  }

  private val etlInputs: Seq[(String, String)] =
    graft.etl.Pipeline.loadOrder.map(t => (new File(input, s"sample_$t.csv").getPath, t))

  private def etlOp(spark: SparkSession, clock: Clock, s: Option[Long], opIndex: Int): String = {
    val dir = new File(out, s"etl/op_${opIndex}_${System.nanoTime()}")
    try {
      val m = clock.span("etl.run", s)(_ =>
        graft.etl.Pipeline.run(spark, etlInputs, dir.getPath))
      val reports = clock.span("etl.report", s) { _ =>
        (graft.etl.Pipeline.analyticsReport(spark, dir.getPath) ++
          graft.etl.Pipeline.pipelineStatus(spark, dir.getPath)).toSeq.sortBy(_._1)
          .map { case (k, df) => s"${Json.str(k)}:${Json.rows(df)}" }
      }
      val scores = m.qualityScores.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.value(v)}" }.mkString("{", ",", "}")
      s""""metrics":{"tables_processed":${m.tablesProcessed},"tables_failed":${m.tablesFailed},""" +
        s""""total_records":${m.totalRecords},"quality_scores":$scores},""" +
        s""""reports":${reports.mkString("{", ",", "}")}"""
    } finally deleteTree(dir)
  }

  private def deleteTree(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete()
  }
}

object Workloads {
  def apply(name: String, input: String, out: String): Workloads = {
    require(Set("etl_load", "report_queries", "corpus_dedup")(name), s"unknown workload $name")
    new Workloads(name, input, out)
  }
}
