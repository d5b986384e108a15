package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The custom codegen expressions must be bit-identical to the
  * higher-order-function formulations they replaced. */
class VectorExpressionsSpec extends SparkSpec {

  import spark.implicits._

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  test("hasNullElement equals a per-element isNullAt walk on writer-produced arrays " +
       "at 63, 64 and 65 elements") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}
    val rnd = new scala.util.Random(17L)
    for {
      elem <- Seq[DataType](DoubleType, IntegerType)
      n <- Seq(63, 64, 65)
      // no nulls; a null at each position alone; random null sets
      nulls <- Seq(Set.empty[Int]) ++ (0 until n).map(Set(_)) ++
        Seq.fill(20)((0 until n).filter(_ => rnd.nextInt(8) == 0).toSet)
    } {
      val values = (0 until n).map[Any](i =>
        if (nulls(i)) null else if (elem == DoubleType) i * 0.5 else i: Any)
      val toUnsafe = UnsafeProjection.create(Array[DataType](ArrayType(elem, containsNull = true)))
      val arr = toUnsafe(InternalRow(new GenericArrayData(values.toArray[Any]))).getArray(0)
      assert(arr.isInstanceOf[UnsafeArrayData])
      val walk = (0 until n).exists(arr.isNullAt)
      assert(walk == nulls.nonEmpty)
      assert(VectorExpressions.hasNullElement(arr) == walk, s"$elem n=$n nulls=$nulls")
      assert(VectorExpressions.hasNullElement(new GenericArrayData(values.toArray[Any])) == walk)
    }
  }

  test("DotProduct matches the HOF fold exactly") {
    val df = (1 to 50).map { i =>
      (Seq.tabulate(64)(j => (i * 31 + j) * 0.137 - 4.0),
       Seq.tabulate(64)(j => (i * 17 + j) * 0.211 - 7.0))
    }.toDF("a", "b")
    val diff = df.select(
        (VectorExpressions.dotProduct(col("a"), col("b")) -
         hofDot(col("a"), col("b"))).as("d"))
      .agg(max(abs(col("d")))).collect()(0).getDouble(0)
    assert(diff == 0.0)
  }

  test("CosineSim is bit-identical to the 3-dot composition it replaced, " +
      "for double, long (quantized) and mixed-length arrays") {
    // double arrays — the pre-r19 cosine shape
    val dd = (1 to 50).map { i =>
      (Seq.tabulate(64)(j => (i * 31 + j) * 0.137 - 4.0),
       Seq.tabulate(64)(j => (i * 17 + j) * 0.211 - 7.0))
    }.toDF("a", "b")
    def threeDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      VectorExpressions.dotProduct(a, b) /
        (sqrt(VectorExpressions.dotProduct(a, a)) *
         sqrt(VectorExpressions.dotProduct(b, b)))
    val badD = dd.filter(
      VectorExpressions.cosineSim(col("a"), col("b")) =!=
        threeDot(col("a"), col("b"))).count()
    assert(badD == 0)

    // long arrays — the quantized-vq shape that used to go through
    // cosine(transform(cast double)) — must equal the cast composition
    val ll = (1 to 50).map { i =>
      (Seq.tabulate(64)(j => (i * 31L + j) * 1048576L - 4096L),
       Seq.tabulate(64)(j => (i * 17L + j) * 1048576L - 8192L))
    }.toDF("a", "b")
    def asD(c: org.apache.spark.sql.Column) = transform(c, _.cast("double"))
    val badL = ll.filter(
      VectorExpressions.cosineSim(col("a"), col("b")) =!=
        threeDot(asD(col("a")), asD(col("b")))).count()
    assert(badL == 0)

    // mixed lengths: ab folds over min(na, nb), aa/bb over their own —
    // the exact DotProduct bounds
    val ml = Seq((Seq(1.0, 2.0, 3.0), Seq(2.0, 5.0))).toDF("a", "b")
    val got = ml.select(VectorExpressions.cosineSim(col("a"), col("b")))
      .collect()(0).getDouble(0)
    val want = ml.select(threeDot(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(got == want)

    // interpreted eval path matches codegen (filter above ran codegen)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = VectorExpressions.CosineSim(
      Literal.create(Seq(3L, 4L)), Literal.create(Seq(4L, 3L)))
    assert(e.eval(null) == 24.0 / 25.0)
  }

  test("QuantizeLong matches the transform(floor(cast·scale)) chain exactly") {
    val scale = 1048576.0
    // float corpus (the driver parquet element type) + double edges
    // including negatives, zero, and values straddling floor boundaries
    val fdf = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val ddf = Seq(
      (1L, Seq(0.0, -0.0, 1.0, -1.0)),
      (2L, Seq(0.4999999, -0.4999999, 1e-7, -1e-7)),
      (3L, Seq.empty[Double])).toDF("id", "v")
    def hof(c: org.apache.spark.sql.Column) =
      transform(transform(c, _.cast("double")),
        x => floor(x * lit(scale)).cast("long"))
    Seq(fdf, ddf).foreach { df =>
      val bad = df.filter(
        VectorExpressions.quantizeLong(col("v"), scale) =!= hof(col("v"))).count()
      assert(bad == 0)
    }
  }

  test("JaccardLongSize matches size(intersect)/greatest(size(union),1) exactly, " +
      "duplicates and empties included") {
    val rnd = new scala.util.Random(29L)
    val rows = (1 to 200).map { i =>
      val na = rnd.nextInt(40)
      val nb = rnd.nextInt(40)
      // small value domain → real overlaps; duplicates deliberately kept
      (i.toLong, Seq.fill(na)(rnd.nextInt(30).toLong), Seq.fill(nb)(rnd.nextInt(30).toLong))
    } ++ Seq((900L, Seq.empty[Long], Seq.empty[Long]),
             (901L, Seq(5L), Seq.empty[Long]),
             (902L, Seq(1L, 1L, 1L), Seq(1L)))
    val df = rows.toDF("id", "a", "b")
    val ref = size(array_intersect(col("a"), col("b"))).cast("double") /
      greatest(size(array_union(col("a"), col("b"))), lit(1)).cast("double")
    val bad = df.filter(
      VectorExpressions.jaccardLongSize(col("a"), col("b")) =!= ref).count()
    assert(bad == 0)
  }

  test("Md5Prefix60 equals CAST(conv(substr(md5(x),1,15),16,10) AS BIGINT)") {
    val df = ((1 to 200).map(i => s"gram $i token ${i * 7}") ++
      Seq("", " ", "déjà vu ünïcode 中文", "a|b|c", "x" * 500)).toDF("x")
    val ref = expr("CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)")
    val bad = df.filter(
      VectorExpressions.md5Prefix60(col("x")) =!= ref).count()
    assert(bad == 0)
  }

  test("HyperplaneSignBits matches per-plane sign computation") {
    val planes = Sketches.hyperplanes(nBits = 32, dim = 8, seed = 5L)
    val df = (1 to 30).map(i => Seq.tabulate(8)(j => (i * 13 + j) * 0.7 - 20.0)).toDF("v")
    val hof = array(planes.map(p => (hofDot(col("v"), typedLit(p)) > 0).cast("int")): _*)
    val bad = df.select(VectorExpressions.hyperplaneSignBits(col("v"), planes).as("x"),
                        hof.as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(bad == 0)
  }

  test("CoarseTopW matches the window formulation for w in 1..3, ties included") {
    import org.apache.spark.sql.expressions.Window
    // quantized vectors and seeds, with DUPLICATE seed vectors so the
    // (cos DESC, ccl ASC) tie-break is actually exercised
    val rnd = new scala.util.Random(17L)
    val vecs = (1 to 40).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextInt(2000).toLong - 1000L)))
    val seedVecs = (1 to 7).map(c => Seq.fill(16)(rnd.nextInt(2000).toLong - 1000L))
    // seeds 8 and 9 duplicate seeds 1 and 2 → exact cosine ties
    val seeds = (seedVecs ++ Seq(seedVecs(0), seedVecs(1)))
      .zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }
    val vdf = vecs.toDF("vec_id", "vq")
    val sdf = seeds.toDF("ccl", "cc")
    val sarr = broadcast(sdf.agg(collect_list(struct(col("ccl"), col("cc"))).as("sarr")))
    val asD = (c: org.apache.spark.sql.Column) => transform(c, _.cast("double"))
    (1 to 3).foreach { w =>
      val got = vdf.crossJoin(sarr)
        .select(col("vec_id"),
          explode(VectorExpressions.coarseTopW(col("vq"), col("sarr"), w)).as("ccl"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val win = Window.partitionBy(col("vec_id"))
        .orderBy(desc("ccos"), col("ccl"))
      val ref = vdf.crossJoin(broadcast(sdf))
        .select(col("vec_id"), col("ccl"),
          Sketches.cosine(asD(col("vq")), asD(col("cc"))).as("ccos"))
        .withColumn("pr", row_number().over(win))
        .filter(col("pr") <= w)
        .select("vec_id", "ccl")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == ref, s"w=$w: expression diverged from the window reference")
    }
  }

  test("QuantAudit matches the HOF quantization chain exactly") {
    // the pre-compilation x110 formulation, rebuilt inline
    def hofAudit(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val e = df
        .withColumn("v", transform(col("embedding"), x => x.cast("double")))
        .withColumn("scale",
          aggregate(transform(col("v"), x => abs(x)), lit(0.0), (a, x) => greatest(a, x)))
        .withColumn("q", transform(col("v"), x =>
          when(col("scale") > 0, floor(x * lit(127.0) / col("scale") + lit(0.5)))
            .otherwise(lit(0.0))))
      val maxErr = aggregate(
        zip_with(col("v"), col("q"), (x, q) => abs(x - q * col("scale") / lit(127.0))),
        lit(0.0), (a, x) => greatest(a, x))
      e.select(col("id"), col("scale"),
        when(col("scale") > 0,
          floor(maxErr * lit(1000000.0) / col("scale"))).otherwise(lit(0L))
          .cast("long").as("err_ppm_of_scale"),
        size(filter(col("q"), q => abs(q) === 127.0)).cast("long").as("n_saturated"),
        size(filter(col("q"), q => q === 0.0)).cast("long").as("n_deadzone"))
    }
    def compiled(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val qa = VectorExpressions.quantAudit(col("embedding"))
      df.select(col("id"), qa.getField("scale").as("scale"),
        qa.getField("err_ppm_of_scale").as("err_ppm_of_scale"),
        qa.getField("n_saturated").as("n_saturated"),
        qa.getField("n_deadzone").as("n_deadzone"))
    }
    def assertIdentical(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val mism = compiled(df).alias("c").join(hofAudit(df).alias("h"), Seq("id"))
        .filter(col("c.scale") =!= col("h.scale") ||
          col("c.err_ppm_of_scale") =!= col("h.err_ppm_of_scale") ||
          col("c.n_saturated") =!= col("h.n_saturated") ||
          col("c.n_deadzone") =!= col("h.n_deadzone"))
      assert(mism.count() == 0,
        s"compiled QuantAudit must match the HOF chain exactly ($label)")
    }
    // real corpus (float elements — the driver parquet shape)
    assertIdentical(graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding")), "float corpus")
    // double elements + edge shapes: all-zero vector (scale = 0 rail),
    // saturation at both signs, dead zone, a singleton, an empty array
    val edges = Seq(
      (1L, Seq(0.0, 0.0, 0.0)),
      (2L, Seq(1.0, -1.0, 0.5, -0.0039, 0.0)),
      (3L, Seq(-127.0)),
      (4L, Seq.empty[Double]),
      (5L, Seq(0.003, -0.004, 1e-9, 2.5))).toDF("id", "embedding")
    assertIdentical(edges, "double edges")
  }

  test("Int8Quantize matches the HOF when/floor formulation exactly") {
    def hofQuant(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df
      .withColumn("v", transform(col("embedding"), x => x.cast("double")))
      .withColumn("scale",
        aggregate(transform(col("v"), x => abs(x)), lit(0.0), (a, x) => greatest(a, x)))
      .select(col("id"), transform(col("v"), x =>
        when(col("scale") > 0, floor(x * lit(127.0) / col("scale") + lit(0.5)))
          .otherwise(lit(0.0))).as("q"))
    def compiled(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col("id"), VectorExpressions.int8Quantize(col("embedding")).as("q"))
    def assertIdentical(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val mism = compiled(df).alias("c").join(hofQuant(df).alias("h"), Seq("id"))
        .filter(col("c.q") =!= col("h.q"))
      assert(mism.count() == 0,
        s"compiled Int8Quantize must match the HOF chain exactly ($label)")
    }
    assertIdentical(graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding")), "float corpus")
    val edges = Seq(
      (1L, Seq(0.0, 0.0)),
      (2L, Seq(1.0, -1.0, 0.5, -0.0039, 0.0)),
      (3L, Seq(-127.0)),
      (4L, Seq.empty[Double])).toDF("id", "embedding")
    assertIdentical(edges, "double edges")
  }

  test("MaxAbsLong matches the aggregate/greatest fold exactly") {
    val df = ((1 to 40).map(i =>
        (i.toLong, Seq.tabulate(16)(j => ((i * 31 + j) % 97 - 48).toLong))) ++
      Seq((100L, Seq.empty[Long]), (101L, Seq(0L)), (102L, Seq(-9L, 9L))))
      .toDF("id", "v")
    val hof = aggregate(transform(col("v"), x => abs(x)), lit(0L),
      (a, x) => greatest(a, x))
    val bad = df.select(VectorExpressions.maxAbsLong(col("v")).as("c"), hof.as("h"))
      .filter(col("c") =!= col("h")).count()
    assert(bad == 0)
  }

  test("MinHashSignature matches the transform/aggregate formulation") {
    val P = 2147483647L
    val k = 16
    val rnd = new scala.util.Random(42L)
    val as = Seq.fill(k)(math.abs(rnd.nextLong()) % (P - 1) + 1)
    val bs = Seq.fill(k)(math.abs(rnd.nextLong()) % P)
    val aLit = typedLit(as)
    val bLit = typedLit(bs)
    val df = (1 to 40).map(i => Seq.tabulate(20)(j => i * 1000003L * (j + 1) - 500000L)).toDF("h")
    val folded = transform(col("h"), h => pmod(h, lit(P)))
    val hof = transform(sequence(lit(0), lit(k - 1)), i =>
      aggregate(folded, lit(Long.MaxValue),
        (acc, h) => least(acc, pmod(h * element_at(aLit, i + 1) + element_at(bLit, i + 1), lit(P)))))
    val bad = df.select(VectorExpressions.minhashSignature(col("h"), as, bs).as("x"), hof.as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(bad == 0)
    // empty set → MaxValue slots (both formulations)
    val e = Seq(Seq.empty[Long]).toDF("h")
      .select(VectorExpressions.minhashSignature(col("h"), as, bs).as("x")).collect()(0)
    assert(e.getAs[scala.collection.Seq[Long]]("x").forall(_ == Long.MaxValue))
  }

  test("shingleHashes = transform(wordShingles, md5 60-bit prefix)") {
    val texts = Seq(
      "The quick brown fox jumps over the lazy dog",
      "  padded   with   runs\tof\nwhitespace  ",
      "one", "one two", "a b c a b c a b c",
      "Ünïcode tökens and CAPS and 123 numbers") ++ EdgeTexts.whitespace
    val df = texts.toDF("text")
    val hof = transform(TextFunctions.wordShingles(col("text"), 3),
      g => conv(substring(md5(g), 1, 15), 16, 10).cast("bigint"))
    val bad = df.select(TextFunctions.shingleHashes(col("text"), 3).as("x"), hof.as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(bad == 0)
  }

  test("WordShingleStrings matches the wordShingles HOF exactly") {
    val texts = Seq(
      "The quick brown fox jumps over the lazy dog",
      "  padded   with   runs\tof\nwhitespace  ",
      "one", "one two three four five six seven eight nine",
      "a b c a b c a b c",
      "Ünïcode tökens and CAPS and 123 numbers") ++ EdgeTexts.whitespace
    val df = texts.toDF("text")
    for (n <- Seq(2, 8)) {
      val bad = df.select(
          TextExpressions.wordShingleStrings(col("text"), n).as("x"),
          TextFunctions.wordShingles(col("text"), n).as("y"))
        .filter(col("x") =!= col("y")).count()
      assert(bad == 0, s"n=$n diverged")
    }
  }

  test("LangId expression matches the greatest(struct) formulation") {
    val texts = Seq(
      "the cat is on the mat and it is happy",
      "der hund ist nicht mit der katze",
      "el perro es un animal que no es gato",
      "le chien est dans le jardin pour la nuit",
      "xyzzy plugh qwerty",        // no stopwords at all → tie on 0
      "the der el le",             // every lang scores once → 4-way tie
      "the\u000Bder\fel\r\nle\tthe", "the\u00A0cat the\u2003dog") ++ EdgeTexts.whitespace
    val df = texts.toDF("text")
    val hofScored = TextFunctions.stopwords.keys.toSeq.sorted.map(l =>
      struct(TextFunctions.stopwordRatio(col("text"), l).as("score"), lit(l).as("lang")))
    val hof = greatest(hofScored: _*).getField("lang")
    val rows = df.select(TextExpressions.langId(col("text")).as("x"), hof.as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(rows == 0)
  }

  test("TokenCounts explode equals the explode(tokens)+groupBy(doc,token) chain exactly") {
    val texts = Seq(
      (1L, "the cat the cat sat"),
      (2L, "  Leading  And   MIXED case  "),
      (3L, ""),                       // empty text → the [""] token, tf 1
      (4L, "Ünïcode tökens ünïcode"),
      (5L, "a b c a b a")) ++ EdgeTexts.whitespace.zipWithIndex.map { case (t, i) => (100L + i, t) }
    val df = texts.toDF("doc_id", "text")
    val hof = df
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).cast("long").as("tf"))
    val compiled = df
      .select(col("doc_id"),
        explode(TextExpressions.tokenCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.token").as("token"), col("tc.tf").as("tf"))
    assert(compiled.count() == hof.count())
    assert(compiled.exceptAll(hof).count() == 0 && hof.exceptAll(compiled).count() == 0)
  }

  test("BigramCounts explode equals the slice/arrays_zip/explode+groupBy chain exactly") {
    val texts = Seq(
      (1L, "the cat the cat sat"),
      (2L, "one"),                    // < 2 tokens → no bigrams
      (3L, ""),
      (4L, "  A  b   a b A  "),
      (5L, "x y x y x")) ++ EdgeTexts.whitespace.zipWithIndex.map { case (t, i) => (100L + i, t) }
    val df = texts.toDF("doc_id", "text")
    val t = TextFunctions.tokens(col("text"))
    val n = greatest(size(t) - lit(1), lit(0))
    val hof = df
      .select(col("doc_id"), slice(t, lit(1), n).as("a"), slice(t, lit(2), n).as("b"))
      .select(col("doc_id"), explode(arrays_zip(col("a"), col("b"))).as("bi"))
      .select(col("doc_id"), col("bi.a").as("w1"), col("bi.b").as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("m"))
    val compiled = df
      .select(col("doc_id"),
        explode(TextExpressions.bigramCounts(col("text"))).as("bi"))
      .select(col("doc_id"), col("bi.w1").as("w1"), col("bi.w2").as("w2"),
        col("bi.m").as("m"))
    assert(compiled.count() == hof.count())
    assert(compiled.exceptAll(hof).count() == 0 && hof.exceptAll(compiled).count() == 0)
  }

  test("wrong-typed inputs fail ANALYSIS, not runtime (ADVICE r19): " +
      "CosineSim/QuantizeLong/JaccardLongSize/Md5Prefix60 checkInputDataTypes") {
    val df = Seq((Seq("a", "b"), Seq(1L, 2L), 3L)).toDF("strs", "longs", "n")
    def failsAnalysis(c: => org.apache.spark.sql.Column): Unit = {
      val e = intercept[Throwable](df.select(c).collect())
      val msg = e.toString + Option(e.getCause).map(_.toString).getOrElse("")
      assert(msg.toLowerCase.contains("requires") ||
             msg.contains("DATATYPE_MISMATCH") || msg.contains("data type mismatch"),
        s"expected an analysis-time type error, got: $msg")
    }
    failsAnalysis(VectorExpressions.cosineSim(col("strs"), col("strs")))
    failsAnalysis(VectorExpressions.quantizeLong(col("longs"), 4.0)) // long array rejected
    failsAnalysis(VectorExpressions.jaccardLongSize(col("strs"), col("strs")))
    failsAnalysis(VectorExpressions.md5Prefix60(col("n")))
    // and the valid shapes still analyze
    df.select(VectorExpressions.jaccardLongSize(col("longs"), col("longs"))).collect()
    df.select(VectorExpressions.md5Prefix60(lit("x"))).collect()
  }

  test("null elements have defined semantics (ADVICE r19): QuantizeLong " +
      "propagates null like the HOF chain; CosineSim/JaccardLongSize read 0") {
    val df = Seq(
      (Seq[java.lang.Double](1.5, null, -2.5), Seq[java.lang.Double](1.5, 0.0, -2.5)),
      (Seq[java.lang.Double](0.25, 4.0, 8.0), Seq[java.lang.Double](0.25, 4.0, 8.0))
    ).toDF("withNull", "zeroed")
    // QuantizeLong: null in → null out, exactly the transform(cast)+floor chain
    def hofQuant(c: org.apache.spark.sql.Column) =
      transform(transform(c, _.cast("double")),
        e => floor(e * lit(16.0)).cast("long"))
    val qBad = df.select(
        VectorExpressions.quantizeLong(col("withNull"), 16.0).as("x"),
        hofQuant(col("withNull")).as("y"))
      .filter(not(col("x") <=> col("y"))).count()
    assert(qBad == 0, "QuantizeLong must propagate null elements like the HOF chain")
    // CosineSim: a null element contributes 0.0 — identical to the zeroed twin
    val cBad = df.select(
        (VectorExpressions.cosineSim(col("withNull"), col("withNull")) -
         VectorExpressions.cosineSim(col("zeroed"), col("zeroed"))).as("d"))
      .filter(col("d") =!= 0.0).count()
    assert(cBad == 0, "CosineSim must treat null elements as 0.0")
    // JaccardLongSize: a null element counts as 0L
    val jdf = Seq((Seq[java.lang.Long](5L, null), Seq[java.lang.Long](5L, 0L)))
      .toDF("withNull", "zeroed")
    val j = jdf.select(
      VectorExpressions.jaccardLongSize(col("withNull"), col("zeroed")).as("v"))
      .collect()(0).getDouble(0)
    assert(j == 1.0, s"null must read as 0L (got jaccard $j)")
  }
}
