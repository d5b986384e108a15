package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared single-JVM SparkSession for all specs: the session Bench and
  * Verify run on ([[Harness.session]]), at 4 cores for tiny test frames. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"

  /** The session's persisted RDDs. Specs diff it against a snapshot: the
    * session is shared by the whole run, so an earlier suite's persists
    * are not the subject of a later one. */
  def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
}

object SparkSpec {
  lazy val session: SparkSession = Harness.session(4, Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))

  /** Run `body` and return its value with the call sites of the Spark
    * jobs it started on this thread, told apart by a job group of their
    * own. A marker job in another group closes the count: the listener
    * bus delivers job starts in order, so once the marker is seen every
    * earlier job start has been seen too. */
  def jobsStartedBy[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        props.map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group`  => started.add(props.get.getProperty("callSite.short", "?"))
          case `marker` => markerSeen.countDown()
          case _        =>
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs counted by SparkSpec.jobsStartedBy")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "end of SparkSpec.jobsStartedBy")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job never reached the listener")
      (out, started.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
