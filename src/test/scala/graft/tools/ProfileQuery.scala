package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Harness, SparkEntry}

/** Dev profiler for SparkEntry queries, one session per call:
  *
  *  - `Test/runMain graft.tools.ProfileQuery <query> [sfDir] [cpus]` runs
  *    the query twice (a warm rep, then the profiled rep) with a listener
  *    that records every job's wall-clock, task-time sum and first-stage
  *    name, and a stack sampler on the driver thread; it prints each
  *    rep's Janino compile count and compile ms, and a per-job
  *    breakdown — WHERE a many-job query (publish paths, streaming
  *    replays, iterative builds) spends its time, which the per-query
  *    bench total cannot show.
  *  - `--explain <q1,q2,...|all> [sfDir] [cpus]` prints, per query, the
  *    formatted plan before execution and the AQE-final executed plan.
  *  - `--dump <outDir> <suffix> <q1,q2,...|all> [sfDir] [cpus]` writes the
  *    same text to `<outDir>/<query>_<suffix>.txt` per query, so exchange
  *    counts, join strategies and pushed filters are checkable offline.
  */
object ProfileQuery {
  def main(argv: Array[String]): Unit = {
    val (mode, args) = argv.toList match {
      case "--explain" :: rest => ("explain", rest.toArray)
      case "--dump" :: _ :: _ :: rest => ("dump", rest.toArray)
      case _ => ("profile", argv)
    }
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = Harness.session(cpus.toInt)
    if (mode == "profile") profile(spark, name, dir)
    else {
      val names =
        if (name == "all") SparkEntry.queries.keys.toSeq.sorted
        else name.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      names.foreach { q =>
        var text = ""
        val rec = Harness.run(spark, q, SparkEntry.queries(q)(spark, dir), sink = df => text = plans(df))
        if (!rec.ok) text = s"FAILED: ${rec.error.getOrElse("")}\n"
        if (mode == "explain") print(text)
        else {
          val outDir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(argv(1)))
          java.nio.file.Files.writeString(outDir.resolve(s"${q}_${argv(2)}.txt"), text)
          println(s"dumped $q")
        }
      }
    }
    spark.stop()
  }

  /** The formatted plan before execution, and the executed plan after
    * driving this very QueryExecution, so its adaptive plan is final and
    * shows the runtime join strategies (a separate write would finalize
    * a different QueryExecution). */
  private def plans(df: DataFrame): String = {
    val qe = df.queryExecution
    val formatted = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("plans")) {
      qe.toRdd.foreachPartition(it => while (it.hasNext) it.next())
    }
    s"== Formatted (pre-execution) ==\n$formatted\n\n== Executed (AQE-final) ==\n${qe.executedPlan}\n"
  }

  private def profile(spark: SparkSession, name: String, dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    case class Job(id: Int, desc: String, start: Long,
                   var end: Long = -1L, var taskMs: Long = 0L, var nTasks: Int = 0)
    case class Stage(id: Int, name: String, details: String,
                     var taskMs: Long = 0L, var nTasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // Harness.run describes every job by its group (the query name),
        // so only a description set inside the query says more
        val props = Option(e.properties)
        val desc = props
          .flatMap(p => Option(p.getProperty("spark.job.description"))
            .filterNot(_ == p.getProperty("spark.jobGroup.id")))
          .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse(e.stageInfos.map(_.name).mkString(" | ").take(160))
        jobs.put(e.jobId, Job(e.jobId, desc, e.time))
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        // first non-Spark frame of the stage callsite — names the
        // OPERATOR (query-source line) the stage computes for
        e.stageInfos.foreach { si =>
          val graftLine = si.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("tools.Profile"))
            .getOrElse("").trim.take(90)
          stages.put(si.stageId, Stage(si.stageId, si.name.take(60), graftLine))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach { j =>
            j.taskMs += e.taskMetrics.executorRunTime
            j.nTasks += 1
          }
        Option(stages.get(e.stageId)).foreach { s =>
          s.taskMs += e.taskMetrics.executorRunTime
          s.nTasks += 1
        }
      }
    })

    // stack sampler over the query-runner thread: attributes driver-side
    // gaps (planning, codegen compile, cache normalization) per §7.3
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          val interesting = st.find { f =>
            val c = f.getClassName
            c.contains("catalyst") || c.contains("codegen") ||
            c.contains("janino") || c.contains("QueryExecution") ||
            c.contains("CacheManager") || c.contains("Optimizer") ||
            c.contains("RuleExecutor") || c.contains("AdaptiveSparkPlan") ||
            c.contains("TreeNode")
          }.orElse(st.drop(2).headOption)
          interesting.foreach { f =>
            samples.merge(s"${f.getClassName.split("\\.").takeRight(2).mkString(".")}.${f.getMethodName}",
              1, (a, b) => a + b)
          }
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true); sampler.start()

    // Janino compiles so far in this JVM (driver and local executors
    // share the codegen cache): count, and total compile time in ms
    def compiles: (Long, Double) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1e6)

    // one warm rep first (JIT/codegen), then the profiled rep
    val reps = 2
    (1 to reps).foreach { r =>
      jobs.clear(); stages.clear(); stageToJob.clear(); samples.clear()
      sampling = r == reps
      val (n0, ms0) = compiles
      val rec = Harness.run(spark, name, SparkEntry.queries(name)(spark, dir),
        sink = df => try Harness.noop(df) finally sampling = false)
      val (n1, ms1) = compiles
      println(f"rep $r: ${rec.seconds}%.2f s, ${n1 - n0}%d janino compiles (${ms1 - ms0}%.0f ms)" +
        rec.error.fold("")(e => s" FAILED: $e"))
    }
    println("main-thread samples (20ms) during final rep, top frames:")
    samples.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, n) =>
      println(f"  $n%5d  $k")
    }
    Thread.sleep(1500) // let the async listener bus drain
    val js = jobs.values.asScala.toSeq.sortBy(_.start)
    val runStart = js.headOption.map(_.start).getOrElse(0L)
    println(f"%%8s %%9s %%9s %%9s %%6s  desc")
    println("   jobId   t0(ms)   wall(ms)  task(ms) ntask  ----")
    js.foreach { j =>
      val wall = if (j.end > 0) j.end - j.start else -1
      println(f"${j.id}%8d ${j.start - runStart}%9d $wall%9d ${j.taskMs}%9d ${j.nTasks}%6d  ${j.desc.take(100)}")
    }
    val gaps = js.sliding(2).collect {
      case Seq(a, b) if b.start - math.max(a.end, a.start) > 50 =>
        (a.id, b.id, b.start - a.end)
    }.toSeq
    println("gaps >50ms between jobs (driver-side work): " +
      gaps.map { case (a, b, g) => s"$a->$b:${g}ms" }.mkString(", "))
    println("top stages by task time (stageId, taskMs, ntask, operator line):")
    stages.values.asScala.toSeq.sortBy(-_.taskMs).take(20).foreach { s =>
      println(f"  ${s.id}%6d ${s.taskMs}%8d ${s.nTasks}%5d  ${s.details}")
    }
  }
}
