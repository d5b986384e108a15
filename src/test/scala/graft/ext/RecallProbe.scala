package graft.ext

/** One-off sweep of the IVF index knobs (nlist, nprobe, Lloyd iters)
  * against brute-force ground truth — run via
  * `Test/runMain graft.ext.RecallProbe [sfDir]` to pick defaults that
  * clear the SimilaritySpec recall floor at both spec scale factors.
  * Test-scope: a measurement rig, not part of the library. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
               else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val spark = graft.Harness.session(8)
    for (dir <- dirs) {
      val exact = Similarity.topKBruteForce(spark, dir)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for {
        nlist <- Seq(8, 16)
        nprobe <- Seq(4, 6, 8)
        iters <- Seq(2, 3)
      } {
        val approx = Similarity.topKIvfTuned(spark, dir, nlist, nprobe, iters)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = (exact & approx).size.toDouble / exact.size
        println(f"RECALL dir=$dir nlist=$nlist nprobe=$nprobe iters=$iters recall=$recall%.3f")
      }
    }
    spark.stop()
  }
}
