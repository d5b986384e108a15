package graft.ext

import graft.SparkSpec

/** SQL function surface (GraftExtensions is bound in the shared test
  * session via spark.sql.extensions — extensions are a static conf, so
  * they must ride the session that owns the SparkContext). */
class GraftExtensionsSpec extends SparkSpec {

  test("graft_dot and graft_cosine are callable from SQL") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
      "graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    // SQL maps onto the DSL's CosineSim: a zero vector, a null element
    // and unequal lengths give the same double (NaN for the zero vector)
    import org.apache.spark.sql.functions.{col, expr}
    val pairs = spark.sql("SELECT * FROM VALUES (array(0d, 0d), array(1d, 2d)), " +
      "(array(1d, null), array(1d, 1d)), (array(1d, 2d, 3d), array(1d, 2d)) AS t(a, b)")
    val got = pairs.select(expr("graft_cosine(a, b)"),
      graft.functions.Sketches.cosine(col("a"), col("b"))).collect()
    assert(got.forall(r => java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0),
      got.mkString(", "))
    assert(got(0).getDouble(0).isNaN)
    assert(spark.catalog.getFunction("graft_cosine").className ==
      classOf[graft.functions.VectorExpressions.CosineSim].getName)
  }

  test("graft_shingle_hashes and graft_minhash compose in SQL") {
    val r = spark.sql(
      "SELECT size(graft_minhash(graft_shingle_hashes('a b c d e', 2), 16)) AS k").collect()(0)
    assert(r.getInt(0) == 16)
  }

  test("graft_lang_id from SQL") {
    val r = spark.sql("SELECT graft_lang_id('the cat is on the mat') AS l").collect()(0)
    assert(r.getString(0) == "en")
  }

  test("graft_quality struct and graft_fingerprint from SQL") {
    val r = spark.sql(
      "SELECT graft_quality('the cat sat on the mat').quality AS q, " +
      "graft_quality('a b a').n_tokens AS n, " +
      "graft_fingerprint('one two three four five six seven eight nine', 8, 3) AS fp").collect()(0)
    assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 100.0)
    assert(r.getLong(1) == 3L)
    val fp = r.getSeq[String](2)
    assert(fp.size == 2 && fp.forall(_.matches("[0-9a-f]{32}")),
      "9 tokens -> 2 distinct 8-grams, MD5 hex each")
  }

  test("graft_shingles and graft_top_token_share from SQL") {
    val r = spark.sql(
      "SELECT graft_shingles('a b c d', 2) AS s, " +
      "graft_top_token_share('a b a a') AS t").collect()(0)
    assert(r.getSeq[String](0) == Seq("a b", "b c", "c d"))
    assert(math.abs(r.getDouble(1) - 0.75) < 1e-12)
  }
}
