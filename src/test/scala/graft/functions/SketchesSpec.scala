package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.Sketches._
import graft.functions.TextFunctions._

class SketchesSpec extends SparkSpec {

  test("minhash signature: identical sets → identical signatures") {
    import spark.implicits._
    val df = Seq("a b c d e f", "a b c d e f", "x y z w v u")
      .toDF("text")
      .select(minhashSignature(shingleHashes(col("text"), 2), 32).as("sig"))
    val sigs = df.collect().map(_.getAs[scala.collection.Seq[Long]]("sig"))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
    assert(sigs(0).size == 32)
  }

  test("minhash similarity estimates Jaccard") {
    import spark.implicits._
    // two docs sharing most shingles should agree on most slots
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again"),
      ("b", "the quick brown fox jumps over the lazy dog again and often"))
      .toDF("id", "text")
      .select(col("id"), minhashSignature(shingleHashes(col("text"), 2), 64).as("sig"))
    val Array(s1, s2) = df.orderBy("id").collect().map(_.getAs[scala.collection.Seq[Long]]("sig"))
    val agree = s1.zip(s2).count { case (x, y) => x == y }.toDouble / 64
    assert(agree > 0.5, s"expected high slot agreement, got $agree")
  }

  test("jaccard on exact arrays") {
    import spark.implicits._
    val r = Seq((Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)))
      .toDF("a", "b").select(jaccard(col("a"), col("b")).as("j"))
      .collect()(0).getDouble(0)
    assert(math.abs(r - 2.0 / 4.0) < 1e-12)
  }

  test("lshBandKeys: equal signatures share every band; bands are structs") {
    import spark.implicits._
    val df = Seq(Seq.fill(8)(7L), Seq.fill(8)(7L)).toDF("sig")
      .select(lshBandKeys(col("sig"), 4, 2).as("bk"))
    val Array(b1, b2) = df.collect().map(_.getSeq[org.apache.spark.sql.Row](0).toSeq)
    assert(b1 == b2 && b1.size == 4)
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0))).toDF("a", "b")
      .select(cosine(col("a"), col("b")).as("c"))
    val cs = df.collect().map(_.getDouble(0))
    assert(math.abs(cs(0) - 1.0) < 1e-12)
    assert(math.abs(cs(1)) < 1e-12)
  }

  test("simhashPortable: equal token lists → equal hash; hamming64 works") {
    import spark.implicits._
    val df = Seq("a b c d e", "a b c d e", "v w x y z")
      .toDF("text").select(simhashPortable(tokens(col("text"))).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs(0) == hs(1))
    val hd = Seq((hs(0), hs(2))).toDF("x", "y")
      .select(hamming64(col("x"), col("y")).cast("long").as("d")).collect()(0).getLong(0)
    assert(hd > 0 && hd <= 60)
  }

  test("simhashBandKeys partitions the 64 bits into 4 16-bit bands") {
    import spark.implicits._
    val h = 0x123456789abcdef0L
    val rows = Seq(h).toDF("h")
      .select(explode(simhashBandKeys(col("h"))).as("bk"))
      .select(col("bk.band"), col("bk.key")).collect()
    assert(rows.length == 4)
    val reconstructed = rows.map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1).map(_._2)
      .zipWithIndex.map { case (k, i) => k << (i * 16) }.reduce(_ | _)
    assert(reconstructed == h)
  }

  test("hyperplaneBits: deterministic, right width; close vectors agree more") {
    import spark.implicits._
    val planes = hyperplanes(nBits = 16, dim = 4, seed = 3L)
    val df = Seq(
      Seq(1.0, 2.0, 3.0, 4.0),
      Seq(1.0, 2.0, 3.0, 4.1),   // near first
      Seq(-4.0, 3.0, -2.0, 1.0)) // far
      .toDF("v").select(hyperplaneBits(col("v"), planes).as("bits"))
    val bits = df.collect().map(_.getSeq[Int](0).toSeq)
    assert(bits.forall(_.size == 16))
    val agreeNear = bits(0).zip(bits(1)).count { case (a, b) => a == b }
    val agreeFar = bits(0).zip(bits(2)).count { case (a, b) => a == b }
    assert(agreeNear > agreeFar)
  }
}
