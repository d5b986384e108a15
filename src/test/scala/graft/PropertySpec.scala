package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** ScalaCheck property tests (SURVEY §5 strategy item 3): invariants
  * that must hold for ARBITRARY inputs, not just fixtures. Spark jobs
  * are expensive per-case, so generators produce whole small frames and
  * minSuccessful is kept low — breadth over depth. */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic mini-forAll: ScalaCheck generators, fixed seeds
    * (the scalatest-scalacheck bridge isn't on the offline classpath;
    * Spark jobs are expensive per case anyway, so 5 seeded cases per
    * property — breadth over depth). */
  private def forAll[A](gen: Gen[A])(f: A => Unit): Unit =
    (0 until 5).foreach { i =>
      gen.apply(Gen.Parameters.default.withSize(40), Seed(42L + i))
        .foreach(a => f(a))
    }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))({ case (a, b) => f(a, b) })

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  private val textGen: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.oneOf("the", "a", "of", "und", "der", "el", "le", "word", "data", "x1"),
    Gen.alphaNumStr.map(_.take(8)),
    Gen.oneOf(".", ",", "!", "?", "  "))).map(_.mkString(" "))

  test("quality score is always within [0, 100]") {
    forAll(Gen.nonEmptyListOf(textGen)) { texts =>
      val out = texts.toDF("text")
        .select(graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
        .collect().map(_.getDouble(0))
      assert(out.forall(q => q >= 0.0 && q <= 100.0))
    }
  }

  test("transform filters are idempotent (applying twice = applying once)") {
    val rowGen = for {
      id <- Gen.posNum[Long]
      sub <- Gen.chooseNum(-10.0, 1000.0)
      tax <- Gen.chooseNum(-1.0, 100.0)
      ship <- Gen.chooseNum(-1.0, 30.0)
      disc <- Gen.chooseNum(0.0, 10.0)
      totalNoise <- Gen.oneOf(0.0, 0.005, 1.0, -0.5)
    } yield (id, "2024-03-01", sub, tax, ship, disc, sub + tax + ship - disc + totalNoise)
    forAll(Gen.nonEmptyListOf(rowGen)) { rows =>
      val df = rows.toDF("order_id", "order_date", "subtotal", "tax_amount",
        "shipping_cost", "discount_amount", "total_amount")
      val once = graft.etl.Transforms.transformOrders(df)
      val twice = graft.etl.Transforms.transformOrders(once)
      assert(once.count() == twice.count())
    }
  }

  test("duplicate count = rows - distinct rows, for any frame") {
    forAll(Gen.listOf(Gen.chooseNum(0, 5))) { xs =>
      whenever(xs.nonEmpty) {
        val df = xs.map(x => (x, s"v$x")).toDF("a", "b")
        val p = graft.etl.Quality.profile(df)
        assert(p.duplicateRows == xs.size - xs.distinct.size)
        assert(p.score >= 0.0 && p.score <= 100.0)
      }
    }
  }

  test("jaccard is symmetric, bounded, and 1 on self") {
    val setGen = Gen.nonEmptyListOf(Gen.chooseNum(1L, 30L)).map(_.distinct)
    forAll(setGen, setGen) { (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val Seq(ab, ba, aa) = df.select(
        graft.functions.Sketches.jaccard(col("a"), col("b")).as("ab"),
        graft.functions.Sketches.jaccard(col("b"), col("a")).as("ba"),
        graft.functions.Sketches.jaccard(col("a"), col("a")).as("aa"))
        .collect()(0).toSeq.map(_.asInstanceOf[Double]).toSeq
      assert(ab == ba)
      assert(ab >= 0.0 && ab <= 1.0)
      assert(aa == 1.0)
    }
  }

  test("country mapping is identity off the mapped domain") {
    val mapped = Map("US" -> "USA", "United States" -> "USA",
      "UK" -> "United Kingdom", "Britain" -> "United Kingdom")
    forAll(Gen.nonEmptyListOf(Gen.oneOf(
      "US", "UK", "Britain", "United States", "Germany", "France", "", "usa"))) { cs =>
      val df = cs.zipWithIndex.map { case (c, i) =>
        (i.toLong, "F", "L", s"e$i@x.com", "p", "2024-01-01", c, "c", "Regular")
      }.toDF("customer_id", "first_name", "last_name", "email", "phone",
             "registration_date", "country", "city", "customer_segment")
      val out = graft.etl.Transforms.transformCustomers(df)
        .select("country").collect().map(_.getString(0)).toList
      val expected: List[String] = cs.map(c => mapped.getOrElse(c, c))
      assert(out.sorted == expected.sorted)
    }
  }

  test("minhash slot agreement tracks jaccard within banding tolerance") {
    val wordGen = Gen.oneOf((1 to 12).map(i => s"w$i"))
    forAll(Gen.listOfN(20, wordGen), Gen.listOfN(20, wordGen)) { (wa, wb) =>
      whenever(wa.distinct.size > 2 && wb.distinct.size > 2) {
        val ta = wa.mkString(" ")
        val tb = wb.mkString(" ")
        val df = Seq((ta, tb)).toDF("a", "b")
        val row = df.select(
          graft.functions.Sketches.jaccard(
            graft.functions.TextFunctions.shingleHashes(col("a"), 1),
            graft.functions.TextFunctions.shingleHashes(col("b"), 1)).as("j"),
          graft.functions.Sketches.minhashSignature(
            graft.functions.TextFunctions.shingleHashes(col("a"), 1), 64).as("sa"),
          graft.functions.Sketches.minhashSignature(
            graft.functions.TextFunctions.shingleHashes(col("b"), 1), 64).as("sb"))
          .collect()(0)
        val j = row.getAs[Double]("j")
        val sa = row.getAs[scala.collection.Seq[Long]]("sa")
        val sb = row.getAs[scala.collection.Seq[Long]]("sb")
        val agree = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 64
        // E[agree] = jaccard; 64 slots → loose 3.5σ bound (σ ≈ 0.0625)
        assert(math.abs(agree - j) < 0.25, s"jaccard $j vs agreement $agree")
      }
    }
  }

  test("u32 sampling hash is a bijection within the 31-bit key range") {
    // documented contract: injective for keys < 2^31; keys differing
    // only above bit 30 intentionally share a hash (mask-first keeps
    // the multiply overflow-free for ANY int64 key)
    forAll(Gen.listOf(Gen.chooseNum(0L, 2147483647L))) { ids =>
      val distinct = ids.distinct
      val hashes = distinct.toDF("id")
        .select(graft.ext.Sampling.u32(col("id")).as("h"))
        .collect().map(_.getLong(0))
      assert(hashes.length == hashes.distinct.length,
        "distinct 31-bit keys must get distinct u32 ranks")
      assert(hashes.forall(h => h >= 0 && h < 4294967296L))
    }
  }

  test("u32 never overflows and XOR-folds high bits (k and k+2^31 hash apart)") {
    forAll(Gen.listOf(Gen.chooseNum(0L, Long.MaxValue))) { ids =>
      whenever(ids.nonEmpty) {
        // the xor-folded twin ((id >> 31) ^ id) & mask is already 31-bit,
        // so u32(id) must equal u32(folded) — and for any k < 2^31 the
        // high-bit sibling k + 2^31 folds to k ^ 1 ≠ k, so the pair that
        // used to collide under mask-only hashing now hashes apart
        val rows = ids.toDF("id").select(col("id"),
          graft.ext.Sampling.u32(col("id")).as("h"),
          graft.ext.Sampling.u32(
            shiftright(col("id"), 31).bitwiseXOR(col("id"))
              .bitwiseAND(lit(2147483647L))).as("hf"))
          .collect()
        rows.foreach { r =>
          val h = r.getLong(1)
          assert(h >= 0 && h < 4294967296L, s"u32 out of range for id ${r.getLong(0)}")
          assert(h == r.getLong(2), "u32 must equal the hash of its xor-folded twin")
        }
      }
    }
    val sib = Seq(7L, 7L + (1L << 31)).toDF("id")
      .select(graft.ext.Sampling.u32(col("id")).as("h")).collect().map(_.getLong(0))
    assert(sib(0) != sib(1), "high-bit siblings must no longer collide")
  }

  test("snapshot diff of a frame with itself is empty; against empty is all added/deleted") {
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.posNum[Long], Gen.alphaNumStr.map(_.take(6))))) { rows =>
      val df = rows.distinctBy(_._1).toDF("id", "v")
      val n = df.count()
      assert(graft.ops.SnapshotDiff.diff(df, df, "id", Seq("v")).count() == 0)
      val empty = df.filter(lit(false))
      val allAdded = graft.ops.SnapshotDiff.diff(empty, df, "id", Seq("v"))
      assert(allAdded.count() == n)
      assert(allAdded.filter(col("change") =!= "added").count() == 0)
      val allDeleted = graft.ops.SnapshotDiff.diff(df, empty, "id", Seq("v"))
      assert(allDeleted.count() == n)
      assert(allDeleted.filter(col("change") =!= "deleted").count() == 0)
    }
  }

  /** Adversarial text: unicode, odd whitespace, punctuation runs, empty
    * and single-char cases — the inputs where a compiled re-implementation
    * of a Column formula silently diverges. */
  private val nastyTextGen: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.oneOf("the", "a", "of", "und", "的", "是", "naïve", "café", "ÅBÇ"),
    Gen.alphaNumStr.map(_.take(6)),
    Gen.oneOf(".", ",", "!!", "??", "...", "-", "\"'", "()"),
    Gen.oneOf(" ", "  ", "\t", "\n", " \t "))).map(_.mkString(" "))

  test("compiled QualitySignals matches the Column formulation on adversarial text") {
    forAll(Gen.nonEmptyListOf(nastyTextGen)) { texts =>
      val toks = split(lower(trim(col("text"))), "\\s+")
      val nToks = greatest(size(toks), lit(1)).cast("double")
      val sw = array(graft.functions.TextFunctions.stopwords("en").map(lit): _*)
      val oldStop = size(filter(toks, t => array_contains(sw, t))).cast("double") / nToks
      val oldPunct = length(regexp_replace(col("text"), "[^.,;:!?'\"()-]", ""))
        .cast("double") / greatest(length(col("text")), lit(1)).cast("double")
      val oldAvgLen = length(regexp_replace(trim(col("text")), "\\s", ""))
        .cast("double") / nToks
      val qs = graft.functions.TextExpressions.qualitySignals(col("text"))
      val bad = texts.toDF("text")
        .select(qs.as("qs"), oldPunct.as("p"), oldStop.as("s"), oldAvgLen.as("a"),
                size(toks).cast("long").as("n"))
        .filter(col("qs.punct_ratio") =!= col("p") ||
          col("qs.stopword_ratio") =!= col("s") ||
          col("qs.avg_token_len") =!= col("a") ||
          col("qs.n_tokens") =!= col("n"))
        .collect()
      assert(bad.isEmpty, s"compiled/Column divergence on: ${bad.take(3).mkString("; ")}")
    }
  }

  test("portable shingle hashes = conv(md5-prefix) of the distinct grams, for any text") {
    // the compiled byte loop must equal the Column spelling the oracles
    // use: CAST(conv(substr(md5(gram),1,15),16,10) AS BIGINT)
    forAll(Gen.nonEmptyListOf(nastyTextGen)) { texts =>
      val rows = texts.toDF("text")
        .select(col("text"),
          graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("ph"),
          transform(graft.functions.TextFunctions.wordShingles(col("text"), 3),
            g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")).as("ref"))
        .collect()
      rows.foreach { r =>
        val ph = r.getAs[scala.collection.Seq[Long]]("ph")
        val ref = r.getAs[scala.collection.Seq[Long]]("ref")
        assert(ph == ref, s"portable hash mismatch for '${r.getString(0).take(40)}'")
      }
    }
  }

  test("portable simhash bit = majority vote of md5-prefix token hashes, any text") {
    forAll(Gen.nonEmptyListOf(nastyTextGen)) { texts =>
      val rows = texts.toDF("text")
        .select(col("text"),
          graft.functions.Sketches.simhashPortable(
            graft.functions.TextFunctions.tokens(col("text"))).as("sim"))
        .collect()
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach { r =>
        val text = r.getString(0)
        // reference implementation straight from the definition
        val toks = org.apache.spark.unsafe.types.UTF8String.fromString(text)
          .trim.toLowerCase.toString.split("\\s+", -1)
        val counts = new Array[Int](60)
        toks.foreach { t =>
          val hex = md.digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
          val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
          (0 until 60).foreach(i => counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1))
        }
        var expect = 0L
        (0 until 60).foreach(i => if (counts(i) > 0) expect |= (1L << i))
        assert(r.getLong(1) == expect, s"simhash mismatch for '${text.take(40)}'")
      }
    }
  }

  test("fingerprint sketch = k smallest MD5s of the shingle set, for any text") {
    forAll(Gen.nonEmptyListOf(nastyTextGen)) { texts =>
      val rows = texts.toDF("text")
        .select(col("text"),
          graft.functions.TextFunctions.fingerprintSketch(col("text"), 4).as("fp"),
          graft.functions.TextFunctions.wordShingles(col("text"), 8).as("grams"))
        .collect()
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach { r =>
        val fp = r.getAs[scala.collection.Seq[String]]("fp")
        val grams = r.getAs[scala.collection.Seq[String]]("grams")
        val expect = grams.map(g => md.digest(g.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString).sorted.take(4)
        assert(fp == expect, s"sketch mismatch for '${r.getString(0).take(40)}'")
      }
    }
  }

  test("repetition ratios bounded; top-token share >= uniform share for any text") {
    forAll(Gen.nonEmptyListOf(textGen)) { texts =>
      val out = texts.filter(_.trim.nonEmpty).toDF("text")
        .select(graft.functions.TextFunctions.dupTokenRatio(col("text")).as("d"),
                graft.functions.TextFunctions.topTokenRatio(col("text")).as("t"),
                graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
        .collect()
      out.foreach { r =>
        val (d, t, n) = (r.getDouble(0), r.getDouble(1), r.getInt(2))
        assert(d >= 0.0 && d < 1.0)
        assert(t > 0.0 && t <= 1.0)
        assert(t >= 1.0 / math.max(n, 1) - 1e-12, "top share below uniform floor")
      }
    }
  }

  test("globalRowNumber ≡ naive window for arbitrary data and bucket coarseness") {
    import org.apache.spark.sql.expressions.Window
    val frameGen = for {
      rows <- Gen.nonEmptyListOf(Gen.zip(Gen.posNum[Long], Gen.chooseNum(-50.0, 50.0)))
      coarse <- Gen.oneOf(1L, 2L, 10L, 1000L) // bucket granularity
    } yield (rows.distinctBy(_._1), coarse)
    forAll(frameGen) { case (rows, coarse) =>
      val df = rows.toDF("id", "v")
      // bucket: ascending-aligned floor coarsening of the DESC sort key
      val got = ops.GlobalOrder.globalRowNumber(df,
          lit(0L) - floor(col("v") * coarse).cast("long"),
          Seq(col("v").desc, col("id").asc))
        .orderBy("id").select("id", "global_rank").collect()
      val exp = df.withColumn("global_rank",
          row_number().over(Window.orderBy(col("v").desc, col("id").asc)).cast("long"))
        .orderBy("id").select("id", "global_rank").collect()
      got.zip(exp).foreach { case (g, e) =>
        assert(g.getLong(1) == e.getLong(1), s"id=${g.getLong(0)}")
      }
    }
  }

  test("prefixSum ≡ naive running total for arbitrary integer weights") {
    import org.apache.spark.sql.expressions.Window
    val frameGen = for {
      rows <- Gen.nonEmptyListOf(
        Gen.zip(Gen.posNum[Long], Gen.chooseNum(0L, 100L), Gen.chooseNum(-9L, 9L)))
      coarse <- Gen.oneOf(1L, 3L, 100L)
    } yield (rows.distinctBy(_._1), coarse)
    forAll(frameGen) { case (rows, coarse) =>
      val df = rows.toDF("id", "w", "k")
      val got = ops.GlobalOrder.prefixSum(df,
          expr(s"k div $coarse"), Seq(col("k").asc, col("id").asc), col("w"), "cum")
        .orderBy("id").select("id", "cum").collect()
      val naiveW = Window.orderBy(col("k").asc, col("id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val exp = df.withColumn("cum", sum("w").over(naiveW))
        .orderBy("id").select("id", "cum").collect()
      got.zip(exp).foreach { case (g, e) =>
        assert(g.getLong(1) == e.getLong(1), s"id=${g.getLong(0)}")
      }
    }
  }

  test("SCD2 intervals partition each user's timeline for arbitrary event logs") {
    val eventGen = for {
      n <- Gen.chooseNum(1, 60)
      rows <- Gen.listOfN(n, Gen.zip(
        Gen.chooseNum(1L, 5L),                       // user_id (forces collisions)
        Gen.oneOf("a", "b", "c"),                    // event_type
        Gen.chooseNum(0L, 1000L)))                   // seconds offset
    } yield rows.zipWithIndex.map { case ((u, t, s), i) =>
      (i.toLong, u, t, new java.sql.Timestamp(1700000000000L + s * 1000L))
    }
    forAll(eventGen) { rows =>
      val ev = rows.toDF("event_id", "user_id", "event_type", "ts")
      val iv = graft.analytics.EventAnalytics.scd2RawFor(ev).collect()
      iv.groupBy(_.getAs[Long]("user_id")).foreach { case (u, spans) =>
        // (valid_from_ts, valid_to_ts nulls-LAST): generated logs can
        // hold zero-width intervals (two changes at one timestamp), and
        // a from-only sort could place the open interval before its
        // zero-width twin and flip the chaining assertion spuriously
        val sorted = spans.sortBy(r => (
          r.getAs[java.sql.Timestamp]("valid_from_ts").getTime,
          if (r.isNullAt(3)) Long.MaxValue
          else r.getAs[java.sql.Timestamp]("valid_to_ts").getTime))
        // exactly one open interval, and it is the LAST one
        assert(sorted.count(_.isNullAt(3)) == 1 && sorted.last.isNullAt(3),
          s"user $u open-interval invariant broken")
        // chained: each interval closes exactly where the next opens
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(a.getAs[java.sql.Timestamp]("valid_to_ts") ==
              b.getAs[java.sql.Timestamp]("valid_from_ts"),
              s"user $u has a hole or overlap")
          case _ => ()
        }
        // compacted: no two adjacent intervals share a state
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(a.getAs[String]("state") != b.getAs[String]("state"),
              s"user $u has an uncompacted no-op interval")
          case _ => ()
        }
      }
      // every user with events has at least one interval
      assert(iv.map(_.getAs[Long]("user_id")).toSet ==
        rows.map(_._2).toSet)
    }
  }

  test("skew-hardened SCD2 builder is row-for-row identical to the plain builder") {
    val eventGen = for {
      n <- Gen.chooseNum(1, 80)
      rows <- Gen.listOfN(n, Gen.zip(
        Gen.chooseNum(1L, 4L),                       // user_id (forces collisions)
        Gen.oneOf("a", "b", "c"),                    // event_type
        Gen.chooseNum(0L, 5L),                       // day offset (forces bucket edges)
        Gen.chooseNum(0L, 86400L)))                  // seconds within day
    } yield rows.zipWithIndex.map { case ((u, t, d, sec), i) =>
      (i.toLong, u, t,
        new java.sql.Timestamp(1700000000000L + (d * 86400L + sec) * 1000L))
    }
    forAll(eventGen) { rows =>
      val ev = rows.toDF("event_id", "user_id", "event_type", "ts")
      // valid_to_ts joins the canon key (ADVICE r11): a user flipping
      // a→b→a at one timestamp yields two rows equal on the first three
      // keys but different valid_to_ts, and without it the tie order
      // could differ between the two plans and flake the equality
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .orderBy(col("user_id"), col("valid_from_ts"), col("state"),
          col("valid_to_ts").asc_nulls_last).collect().toSeq
      assert(canon(graft.analytics.EventAnalytics.scd2RawSkewHardenedFor(ev)) ==
        canon(graft.analytics.EventAnalytics.scd2RawFor(ev)),
        "pre-compacted SCD2 diverged from the plain builder")
    }
  }

  test("skew-hardened SCD2 compacts a 100k-event single hot user in bounded time") {
    // one bot key, 100k events over ~2 years, mostly same-state runs —
    // the shape the (user_id, day) pre-compaction exists for; the plain
    // builder puts all 100k rows in ONE window partition
    val n = 100000
    val ev = spark.range(n).toDF("event_id")
      .withColumn("user_id", lit(7L))
      // 20 events/day; state changes every ~50 events → ~2k intervals
      .withColumn("ts", expr(
        "timestamp_seconds(1700000000 + event_id * 4320)"))
      .withColumn("event_type", expr(
        "CASE (event_id div 50) % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END"))
    val t0 = System.nanoTime()
    val iv = graft.analytics.EventAnalytics.scd2RawSkewHardenedFor(ev)
    val nIv = iv.count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(nIv == n / 50, s"expected ${n / 50} intervals, got $nIv")
    // generous bound: the point is "did not degenerate", not a benchmark
    assert(secs < 120.0, s"hot-key SCD2 took ${secs}s")
    // and the result matches the plain builder on the same frame
    assert(iv.orderBy("valid_from_ts").collect().toSeq ==
      graft.analytics.EventAnalytics.scd2RawFor(ev)
        .orderBy("valid_from_ts").collect().toSeq)
  }

  test("fluency scores equal an independent in-memory computation for arbitrary corpora") {
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val corpusGen = Gen.nonEmptyListOf(Gen.zip(
        Gen.posNum[Long],
        Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))))
      .map(_.distinctBy(_._1))
    forAll(corpusGen) { rows =>
      val docs = rows.map { case (id, ws) => (id, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.ext.TextAnalysis.fluencyScoresFor(docs).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("fluency_permille")))).toMap
      graft.CacheScope.release()
      // independent computation: plain Scala maps, integer arithmetic
      val docBi = rows.map { case (id, ws) =>
        id -> ws.zip(ws.drop(1)).groupBy(identity).view.mapValues(_.size.toLong).toMap
      }.toMap
      val c12 = docBi.values.flatten
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val c1 = c12.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val expected = docBi.collect { case (id, bi) if bi.nonEmpty =>
        val nBigrams = bi.values.sum
        val mass = bi.map { case (pair, m) =>
          m * ((c12(pair) * 1000L) / c1(pair._1))
        }.sum
        id -> ((nBigrams, mass / nBigrams))
      }
      assert(got == expected,
        s"fluency mismatch:\n got=$got\n exp=$expected")
    }
  }

  test("mask plan invariants hold for arbitrary corpora (bounds, 15% mass, no overlap)") {
    val corpusGen = Gen.nonEmptyListOf(Gen.zip(Gen.posNum[Long], textGen))
      .map(_.distinctBy(_._1))
    forAll(corpusGen) { rows =>
      val docs = rows.toDF("doc_id", "text")
      val toks = docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val plan = graft.ext.TextAnalysis.maskPlanFor(docs)
        .join(toks, "doc_id").collect()
      // per-span: inside the doc, len in [1, 3]
      plan.foreach { r =>
        val (start, len, n) = (r.getAs[Long]("start_tok"),
          r.getAs[Long]("span_len"), r.getAs[Long]("n_tokens"))
        assert(start >= 0 && start + len <= n, s"span out of bounds: $r")
        assert(len >= 1 && len <= 3, s"span length out of band: $r")
      }
      // per-doc: exact 15% mass and strictly ordered non-overlapping spans
      plan.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, spans) =>
        val sorted = spans.sortBy(_.getAs[Long]("span_idx"))
        val n = sorted.head.getAs[Long]("n_tokens")
        assert(sorted.map(_.getAs[Long]("span_len")).sum == n * 15 / 100)
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(a.getAs[Long]("start_tok") + a.getAs[Long]("span_len") <=
              b.getAs[Long]("start_tok"), "overlapping spans")
          case _ => ()
        }
      }
    }
  }
}
