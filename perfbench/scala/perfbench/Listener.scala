package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the Spark side of traced passes: jobs, tasks, SQL executions
  * (with the call site that issued them) and the planning phases of every
  * finished query. Attached only around traced passes; events stay in
  * memory until the end of the run. */
final class Listener(clock: Clock) extends SparkListener with QueryExecutionListener {
  private val events = new ConcurrentLinkedQueue[String]()
  private def add(s: String): Unit = { events.add(s); () }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until every event of the pass is delivered, then detach. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    add(s"""{"k":"job_start","job":${e.jobId},"t":${e.time},"exec":${exec.getOrElse("null")},""" +
      s""""stages":${e.stageIds.mkString("[", ",", "]")}}""")
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    add(s"""{"k":"job_end","job":${e.jobId},"t":${e.time}}""")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null)
      add(s"""{"k":"task","stage":${e.stageId},"launch":${i.launchTime},"finish":${i.finishTime},""" +
        s""""run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},"gc_ms":${m.jvmGCTime},""" +
        s""""shuffle_write":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""shuffle_read":${m.shuffleReadMetrics.totalBytesRead},""" +
        s""""spill":${m.memoryBytesSpilled + m.diskBytesSpilled},""" +
        s""""out_bytes":${m.outputMetrics.bytesWritten}}""")
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      // one "(n) Scan csv" details header per scan node of the formatted plan
      val csvScans = "(?m)^\\(\\d+\\) Scan csv".r.findAllMatchIn(s.physicalPlanDescription).size
      add(s"""{"k":"exec","exec":${s.executionId},"root":${s.rootExecutionId.getOrElse(s.executionId)},""" +
        s""""t":${s.time},"csv_scans":$csvScans,"site":${Json.str(s.details)}}""")
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    val phases = Seq("optimization", "planning").flatMap(n => p.get(n).map(s =>
      s"""${Json.str(n)}:[${s.startTimeMs},${s.endTimeMs}]"""))
    add(s"""{"k":"plan","func":${Json.str(funcName)},"t":${clock.now},${phases.mkString(",")}}""")
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def json: String =
    s"""{"events":${events.asScala.mkString("[", ",\n", "]")},"spans":${clock.spans.asScala.mkString("[", ",\n", "]")}}"""
}
