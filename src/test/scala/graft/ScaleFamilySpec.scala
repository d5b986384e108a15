package graft

import org.scalatest.funsuite.AnyFunSuite

/** The "every stamp ratio > 5 is adjudicated by a measured mass family"
  * claim, checked by code against the committed SCALE stamps. The table
  * is [[ScaleCheck.Families]]; each family's adjudication line prints its
  * measured mass axes on both slices. */
class ScaleFamilySpec extends AnyFunSuite {

  /** Ratios from every scale_ratio_p50 line of a committed stamp
    * (stamps may carry several lines — partial re-runs append). */
  private def stampRatios(path: String): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.exists()) return Map.empty
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    scala.io.Source.fromFile(f).getLines().filter(_.contains("scale_ratio_p50"))
      .flatMap { line =>
        val root = om.readTree(line)
        root.path("queries").fields().asScala.map { e =>
          e.getKey -> e.getValue.path("ratio").asDouble()
        }
      }.toMap
  }

  private def repoRootFile(name: String): String =
    Bench.repoRoot().map(r => new java.io.File(r, name).getPath).getOrElse(name)

  test("every family member is a registered query; no query sits in two families") {
    val registered = SparkEntry.queries.keySet
    val members = ScaleCheck.Families.flatMap(_.members)
    val unknown = members.filterNot(registered)
    assert(unknown.isEmpty,
      s"Families names unregistered queries (typo or rename): $unknown")
    val dups = members.groupBy(identity).collect { case (q, qs) if qs.size > 1 => q }
    assert(dups.isEmpty, s"queries claimed by more than one family: $dups")
  }

  test("every family has an emitter: a line carrying each of its mass axes on both slices") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    ScaleCheck.Families.foreach { f =>
      val masses = f.masses.map(_ => (100L, 1000L))
      val retimed = if (f.extraReps > 0) Some((1.0, 10.0)) else None
      val line = om.readTree(ScaleCheck.adjudicationLine(f, 10, f.members, masses, retimed))
      assert(f.masses.nonEmpty && line.path("metric").asText == "scale_adjudication", f.name)
      f.masses.foreach { m =>
        assert(line.path(s"${m.key}_t1").asLong == 100L && line.path(s"${m.key}_t10").asLong == 1000L,
          s"${f.name} line lacks ${m.key}: $line")
        m.ratioKey.foreach(k => assert(line.path(k).asDouble == 10.0, s"${f.name} $k"))
      }
    }
  }

  test("no stamp ratio above the floor escapes family adjudication (committed stamps)") {
    // the r18 artifacts are the fixture: 21 queries read over 5.0 at
    // 100x and every one must be claimed by a family with an emitter;
    // later rounds' stamps join the check as they are committed
    val paths = Seq("SCALE_r18_10x.json", "SCALE_r18_100x.json",
      "SCALE_r19_10x.json", "SCALE_r19_100x.json").map(repoRootFile)
    val checked = paths.filter(p => new java.io.File(p).exists())
    assert(checked.nonEmpty, s"no committed SCALE stamps found at $paths")
    checked.foreach { p =>
      val ratios = stampRatios(p)
      assert(ratios.nonEmpty, s"stamp $p parsed to no ratios")
      val silent = ScaleCheck.unadjudicated(ratios)
      assert(silent.isEmpty,
        s"$p carries ratios > ${ScaleCheck.AdjudicationRatioFloor} with NO mass family: $silent")
    }
  }

  test("the r18 over-floor set is non-trivially exercised by the fixture") {
    // guard the guard: if stamp parsing silently broke (schema drift),
    // the coverage test above would vacuously pass on an empty set
    val ratios = stampRatios(repoRootFile("SCALE_r18_100x.json"))
    val over = ratios.filter(_._2 > ScaleCheck.AdjudicationRatioFloor)
    assert(over.size >= 15,
      s"expected the r18 100x stamp to carry >= 15 over-floor ratios, parsed ${over.size}")
    // spot anchors from the r18 verdict's gap list — all now family members
    Seq("x125_perplexity_filter", "x34_contamination", "x03_dedup_minhash",
        "x79_split_leakage", "x106_minhash_threshold_sweep",
        "x131_fluency_external", "x20_media_stats", "x151_manifest_restore")
      .foreach { q =>
        assert(over.contains(q), s"fixture lost $q from the over-floor set")
        assert(ScaleCheck.familyOf.contains(q), s"$q has no mass family")
      }
  }
}
