package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

class TextFunctionsSpec extends SparkSpec {

  private def one[T](c: org.apache.spark.sql.Column, text: String): T = {
    import spark.implicits._
    Seq(text).toDF("text").select(c.as("r")).collect()(0).getAs[T]("r")
  }

  test("tokenCount splits on runs of whitespace, trims edges") {
    assert(one[Int](tokenCount(col("text")), "the quick  brown\tfox ") == 4)
    assert(one[Int](tokenCount(col("text")), "one") == 1)
  }

  test("bpeTokenCount counts letter runs, digit runs, single punct") {
    // "ab12, cd" -> [ab][12][,][cd]
    assert(one[Int](bpeTokenCount(col("text")), "ab12, cd") == 4)
  }

  test("wordShingles builds distinct n-grams") {
    val sh = one[scala.collection.Seq[String]](wordShingles(col("text"), 2), "a b c a b")
    assert(sh.toSet == Set("a b", "b c", "c a"))
  }

  test("wordShingles on short doc yields the whole doc") {
    val sh = one[scala.collection.Seq[String]](wordShingles(col("text"), 3), "a b")
    assert(sh == Seq("a b"))
  }

  test("stopwordRatio is fraction of lang stopwords") {
    val r = one[Double](stopwordRatio(col("text"), "en"), "the cat and the dog")
    assert(math.abs(r - 3.0 / 5.0) < 1e-12)
  }

  test("langId picks the language with highest stopword density") {
    assert(one[String](langId(col("text")), "the cat is on the mat and it is happy") == "en")
    assert(one[String](langId(col("text")), "der hund ist nicht mit der katze") == "de")
    assert(one[String](langId(col("text")), "el perro es un animal que no es gato") == "es")
  }

  test("punctRatio counts only punctuation chars") {
    assert(math.abs(one[Double](punctRatio(col("text")), "ab, cd.") - 2.0 / 7.0) < 1e-12)
  }

  test("avgTokenLen is non-whitespace chars over tokens") {
    assert(math.abs(one[Double](avgTokenLen(col("text")), "ab cdef") - 3.0) < 1e-12)
  }

  test("qualityScore is bounded in [0, 100]") {
    for (t <- Seq("", "x", "the " * 200, "!!!???...", "a b c d e f g"))
      if (t.nonEmpty) {
        val q = one[Double](qualityScore(col("text")), t)
        assert(q >= 0.0 && q <= 100.0, s"score $q out of range for '$t'")
      }
  }

  test("fingerprintSketch is the k smallest gram digests, deterministic") {
    val text = "one two three four five six seven eight nine ten eleven twelve"
    val a = one[scala.collection.Seq[String]](fingerprintSketch(col("text"), 3), text)
    val b = one[scala.collection.Seq[String]](fingerprintSketch(col("text"), 3), text)
    assert(a == b && a.size == 3 && a == a.sorted)
    assert(a.forall(_.matches("[0-9a-f]{32}")), "MD5 lowercase hex")
    // element = md5 of an actual 8-gram of the text (portability contract)
    val grams = one[scala.collection.Seq[String]](wordShingles(col("text"), 8), text)
    val md = java.security.MessageDigest.getInstance("MD5")
    val gramMd5 = grams.map(g => md.digest(g.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString).sorted
    assert(a == gramMd5.take(3))
  }

  test("qualitySignals struct is bit-identical to the Column formulations") {
    import graft.functions.TextExpressions
    // the pre-compilation HOF/regex formulation, rebuilt inline
    val toks = split(lower(trim(col("text"))), "\\s+")
    val nToks = greatest(size(toks), lit(1)).cast("double")
    val sw = array(TextFunctions.stopwords("en").map(lit): _*)
    val oldStop = size(filter(toks, t => array_contains(sw, t))).cast("double") / nToks
    val oldPunct = length(regexp_replace(col("text"), "[^.,;:!?'\"()-]", ""))
      .cast("double") / greatest(length(col("text")), lit(1)).cast("double")
    val oldAvgLen = length(regexp_replace(trim(col("text")), "\\s", ""))
      .cast("double") / nToks
    val oldQuality = {
      val lengthScore = least(length(col("text")).cast("double") / lit(500.0), lit(1.0))
      val punctScore = lit(1.0) - least(oldPunct * lit(5.0), lit(1.0))
      val stopScore = least(oldStop * lit(4.0), lit(1.0))
      val wordLenScore = when(oldAvgLen.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.5))
      lengthScore * lit(25.0) + punctScore * lit(25.0) +
        stopScore * lit(25.0) + wordLenScore * lit(25.0)
    }
    val qs = TextExpressions.qualitySignals(col("text"))
    def assertMatches(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val mismatches = df
        .select(qs.as("qs"), oldPunct.as("p"), oldStop.as("s"),
                oldAvgLen.as("a"), size(toks).cast("long").as("n"), oldQuality.as("q"))
        .filter(col("qs.punct_ratio") =!= col("p") ||
          col("qs.stopword_ratio") =!= col("s") ||
          col("qs.avg_token_len") =!= col("a") ||
          col("qs.n_tokens") =!= col("n") ||
          col("qs.quality") =!= col("q"))
      assert(mismatches.count() == 0,
        s"compiled QualitySignals must match the Column forms exactly ($label)")
    }
    import spark.implicits._
    assertMatches(graft.Tables.load(spark, sfDir, "documents"), "corpus")
    assertMatches(EdgeTexts.whitespace.toDF("text"), "edge cases")
  }

  test("tokenStats struct is bit-identical to the Column formulations") {
    import graft.functions.TextExpressions
    import spark.implicits._
    val oldN = tokenCount(col("text")).cast("long")
    val oldBpe = bpeTokenCount(col("text")).cast("long")
    val oldAvg = avgTokenLen(col("text"))
    val ts = TextExpressions.tokenStats(col("text"))
    def assertMatches(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val mismatches = df
        .select(ts.as("ts"), oldN.as("n"), oldBpe.as("b"), oldAvg.as("a"))
        .filter(col("ts.n_tokens") =!= col("n") ||
          col("ts.n_bpe_tokens") =!= col("b") ||
          col("ts.avg_token_len") =!= col("a"))
      assert(mismatches.count() == 0,
        s"compiled TokenStats must match the Column forms exactly ($label)")
    }
    assertMatches(graft.Tables.load(spark, sfDir, "documents"), "corpus")
    // edge shapes the corpus can't cover: empties, pure whitespace
    // (trim strips only ASCII spaces — tabs survive and split into
    // leading/trailing empty tokens), unicode letters the lowered [a-z]
    // class rejects, supplementary codepoints (one token, one codepoint),
    // digit/letter/punct run transitions, NBSP (non-ASCII ws is NOT \s)
    val edges = Seq("", " ", "\t", " \t ", "a", "ab12, cd", "a  b\tc\nd",
      "\ta b\t", "ÉcLaIr café 42türk", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "a b",
      "...!!!", "a1b2c3", "  x  ", "İstanbul I ı", "12 34.56") ++ EdgeTexts.whitespace
    assertMatches(edges.toDF("text"), "edge cases")
  }

  test("repetitionStats struct is bit-identical to the Column formulations") {
    import graft.functions.TextExpressions
    import spark.implicits._
    val rs = TextExpressions.repetitionStats(col("text"))
    // top_token_ratio spelled in Column HOFs: the largest count of one
    // distinct token, over the token count
    val toks = tokens(col("text"))
    val topRef = array_max(transform(array_distinct(toks), t => size(filter(toks, x => x === t))))
      .cast("double") / greatest(size(toks), lit(1)).cast("double")
    def assertMatches(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val mismatches = df
        .select(rs.as("rs"), tokenCount(col("text")).cast("long").as("n"),
          dupTokenRatio(col("text")).as("d"), topRef.as("t"))
        .filter(col("rs.n_tokens") =!= col("n") ||
          col("rs.dup_token_ratio") =!= col("d") ||
          col("rs.top_token_ratio") =!= col("t"))
      assert(mismatches.count() == 0,
        s"compiled RepetitionStats must match the Column forms exactly ($label)")
    }
    assertMatches(graft.Tables.load(spark, sfDir, "documents"), "corpus")
    val edges = Seq("", " ", "\t", "a", "a b a a", "x y z", "solo",
      "\ta b\t", "A a A", "𝔘 𝔘 b") ++ EdgeTexts.whitespace
    assertMatches(edges.toDF("text"), "edge cases")
  }

  test("piiRedactionStats struct is bit-identical to the Column formulations") {
    import graft.functions.TextExpressions
    import spark.implicits._
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+?[0-9][0-9()\\s.-]{7,}[0-9]"
    val redacted = regexp_replace(
      regexp_replace(col("text"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
    val pii = TextExpressions.piiRedactionStats(col("text"), emailRe, phoneRe)
    def assertMatches(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val mism = df.select(pii.as("p"),
          size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long").as("ne"),
          size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))).cast("long").as("np"),
          length(col("text")).cast("long").as("lr"),
          length(redacted).cast("long").as("ld"))
        .filter(col("p.n_emails") =!= col("ne") || col("p.n_phones") =!= col("np") ||
          col("p.len_raw") =!= col("lr") || col("p.len_redacted") =!= col("ld"))
      assert(mism.count() == 0,
        s"compiled PiiRedactionStats must match the Column forms exactly ($label)")
    }
    assertMatches(graft.Tables.load(spark, sfDir, "documents"), "corpus")
    val edges = Seq("", "a@b.co", "x a@b.co y c@d.org z", "+1 (555) 010-1234",
      "a@b.co+1 (555) 010-1234", "call 5550101234 or 555-010-1234 now",
      "no pii here", "@not an email@", "1234567", "ünïcode a@b.de 𝔘",
      "end a@b.co", "+49 89 123456789").toDF("text")
    assertMatches(edges, "edge cases")
  }

  test("piiRedaction counts and shrinks only the augmented docs") {
    val out = graft.ext.TextAnalysis.piiRedaction(spark, sfDir).cache()
    val aug = out.filter(col("doc_id") % 7 === 0)
    assert(aug.filter(col("n_emails") =!= 1 || col("n_phones") =!= 1).count() == 0,
      "every augmented doc has exactly one email and one phone")
    assert(aug.filter(col("len_redacted") >= col("len_raw")).count() == 0,
      "redaction must shrink augmented docs (sentinels are shorter)")
    val plain = out.filter(col("doc_id") % 7 =!= 0)
    assert(plain.filter(col("n_emails") =!= 0 || col("n_phones") =!= 0
      || col("len_redacted") =!= col("len_raw")).count() == 0,
      "unaugmented word-soup docs contain no PII shapes")
    out.unpersist()
  }

  test("repetition ratios: hand-checked values and corpus invariants") {
    // "a b a a" → 4 tokens, 2 distinct → dup 0.5; top token 'a' ×3 → 0.75
    assert(math.abs(one[Double](dupTokenRatio(col("text")), "a b a a") - 0.5) < 1e-12)
    assert(math.abs(one[Double](topTokenRatio(col("text")), "a b a a") - 0.75) < 1e-12)
    assert(one[Double](dupTokenRatio(col("text")), "x y z") == 0.0)
    assert(math.abs(one[Double](topTokenRatio(col("text")), "x y z") - 1.0 / 3) < 1e-12)
    assert(one[Double](topTokenRatio(col("text")), "solo") == 1.0)

    val out = graft.ext.TextAnalysis.repetitionStats(spark, sfDir).cache()
    assert(out.filter(col("dup_token_ratio") < 0 || col("dup_token_ratio") >= 1).count() == 0)
    assert(out.filter(col("top_token_ratio") <= 0 || col("top_token_ratio") > 1).count() == 0)
    // some token repeats iff the top token repeats
    assert(out.filter((col("dup_token_ratio") > 0) =!=
      (col("top_token_ratio") > lit(1.0) / col("n_tokens"))).count() == 0)
    out.unpersist()
  }

  test("winnowed positional grams: subset, window coverage, shared-span guarantee") {
    import graft.functions.TextExpressions.{winnowedPositional, wordShinglePositional}
    val docs = graft.Tables.load(spark, sfDir, "documents").limit(200)
      .select(col("doc_id"), col("text")).cache()
    val full = docs.select(col("doc_id"),
      explode(wordShinglePositional(col("text"), 8)).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gram").as("gram"))
    val win = docs.select(col("doc_id"),
      explode(winnowedPositional(col("text"), 8, 8)).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gram").as("gram"))
    // SUBSET: every winnowed (pos, gram) exists in the full positional set
    assert(win.join(full, Seq("doc_id", "pos", "gram"), "left_anti").count() == 0,
      "winnow selected a gram/position not in the positional set")
    // DENSITY: ~2/(w+1) expected; assert the reduction actually happened
    // and nothing was emptied
    val nFull = full.count(); val nWin = win.count()
    assert(nWin > 0 && nWin < nFull / 2,
      s"winnow density off: $nWin of $nFull selected")
    assert(win.select("doc_id").distinct().count() ==
      docs.filter(length(col("text")) > 0).count(),
      "every non-empty doc keeps at least one fingerprint")
    // WINDOW COVERAGE: consecutive selected positions are < w apart
    // (every window of w grams contains a selection — the winnowing
    // invariant the span guarantee rests on)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val gaps = win.withColumn("gap", col("pos") - lag("pos", 1).over(w))
      .filter(col("gap") > 8)
    assert(gaps.count() == 0, "a window of 8 gram positions has no selection")
    // SHARED-SPAN GUARANTEE: two synthetic docs sharing a 20-token span
    // (>= w+n-1 = 15) must share at least one selected gram
    import spark.implicits._
    val span = (1 to 20).map(i => s"shared$i").mkString(" ")
    val synth = Seq((1L, s"alpha beta $span gamma"),
                    (2L, s"$span delta epsilon zeta")).toDF("doc_id", "text")
    val sg = synth.select(col("doc_id"),
      explode(winnowedPositional(col("text"), 8, 8)).as("pg"))
      .select(col("doc_id"), col("pg.gram").as("gram"))
    val shared = sg.filter(col("doc_id") === 1L).select("gram")
      .intersect(sg.filter(col("doc_id") === 2L).select("gram"))
    assert(shared.count() > 0,
      "docs sharing a 20-token span must share a winnowed fingerprint")
    docs.unpersist()
  }
}
