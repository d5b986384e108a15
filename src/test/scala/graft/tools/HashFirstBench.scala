package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: measure HashFirstDistinctRule's effect — the same
  * COUNT(DISTINCT text) on the same generated corpus, one session with
  * the extensions (rule on), one without (stock Spark). Also reports
  * shuffle-write bytes from the stage metrics, which is the actual
  * claim: the distinct exchange carries 24-byte key pairs instead of
  * document payloads. `Test/runMain graft.tools.HashFirstBench [nDocs]`. */
object HashFirstBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L

    def run(label: String, withRule: Boolean): Unit = {
      // the control side is stock Spark: no extensions, so no rule
      val s = graft.Harness.session(8, Map("spark.app.name" -> s"hashfirst-$label") ++
        (if (withRule) Map.empty else Map("spark.sql.extensions" -> "")))
      val bytes = new java.util.concurrent.atomic.AtomicLong()
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })
      val docs = graft.etl.DataGen.documentsLike(s, n).cache()
      docs.count() // materialize outside the timed region
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        docs.agg(count_distinct(col("text"))).head()
        (System.nanoTime() - t0) / 1e9
      }
      Thread.sleep(500) // let the listener bus drain the final stage events
      println(f"$label%-10s min ${times.min}%.2f s  shuffleWrite ${bytes.get() / 1048576.0}%.1f MiB")
      s.stop()
    }
    run("plain", withRule = false)
    run("hash-first", withRule = true)
  }
}
