package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Specs for the retrieval operators: x140 BM25 (rational-idf,
  * ppm-quantized) and x141 RRF hybrid fusion. Both hash-match their
  * DuckDB oracles; these pin the ranking semantics (hand-computed BM25
  * contributions, the exact 1/(k+r) fusion arithmetic, one-ranker
  * candidates) that a refactor could break while still emitting SOME
  * oracle-shaped frame. */
class RetrievalSpec extends SparkSpec {

  /** documents + embeddings fixture: doc 0 is the only query
    * (candidate ids ≥ 10 stay outside the query window). */
  private def corpusDir(docs: Seq[(Long, String)],
                        vecs: Seq[(Long, Array[Float])]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_retr_").toString
    import spark.implicits._
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private val docs = Seq(
    0L -> "apple banana",
    10L -> "apple apple cherry",
    11L -> "banana",
    12L -> "cherry date egg fig")
  private val vecs = Seq(
    0L -> Array(1f, 0f, 0f, 0f),
    10L -> Array(1f, 1f, 0f, 0f),
    11L -> Array(0f, 1f, 0f, 0f),
    12L -> Array(1f, 0f, 1f, 0f))

  test("documents.doc_id is unique, as TokenCounts and BigramCounts require") {
    val ids = graft.Tables.load(spark, sfDir, "documents").select("doc_id")
    val n = ids.count()
    assert(n > 0 && ids.distinct().count() == n)
  }

  test("x140: exact hand-computed BM25 ppm scores and ranking") {
    // N=4, total_tf=10, avgdl=2.5; query terms {apple, banana}, both
    // df=2 so idf=(4-2+0.5)/2.5=1. doc10: tf(apple)=2, dl=3 →
    // 1*(2*2.2)/(2+1.2*(0.25+0.75*1.2)) → ppm 1301775. doc11:
    // tf(banana)=1, dl=1 → 2.2/1.66 → ppm 1325301. doc12 shares no
    // term → absent. doc11 outranks doc10.
    val out = Retrieval.bm25Retrieval(spark, corpusDir(docs, vecs)).collect()
    graft.CacheScope.release()
    assert(out.length == 2)
    val r1 = out(0); val r2 = out(1)
    assert(r1.getAs[Long]("rank") == 1L && r1.getAs[Long]("doc_id") == 11L &&
      r1.getAs[Long]("score_ppm") == 1325301L)
    assert(r2.getAs[Long]("rank") == 2L && r2.getAs[Long]("doc_id") == 10L &&
      r2.getAs[Long]("score_ppm") == 1301775L)
  }

  test("x141: exact fusion arithmetic, one-ranker candidates, flags") {
    // dense cosines from query [1,0,0,0]: doc10 = doc12 = 1/√2 (tie →
    // vec_id: ranks 1,2), doc11 = 0 (rank 3). lexical ranks: doc11=1,
    // doc10=2, doc12 absent. fused: doc10 1/62+1/61 > doc11 1/61+1/63
    // > doc12 dense-only 1/62.
    val out = Retrieval.hybridRrf(spark, corpusDir(docs, vecs)).collect()
    graft.CacheScope.release()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L, 11L, 12L))
    assert(out.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    // the operator adds the lexical term first — replicate exactly
    assert(out(0).getAs[Double]("rrf_score") == 1.0 / 62.0 + 1.0 / 61.0)
    assert(out(1).getAs[Double]("rrf_score") == 1.0 / 61.0 + 1.0 / 63.0)
    assert(out(2).getAs[Double]("rrf_score") == 0.0 + 1.0 / 62.0)
    assert(out.map(r => (r.getAs[Long]("in_lex"), r.getAs[Long]("in_dense")))
      .toSeq == Seq((1L, 1L), (1L, 1L), (0L, 1L)))
  }

  test("x142: hand-computed diversity flip, tie-breaks, graceful exhaustion") {
    // query 0 = [1,1,0,0]; candidates: 10=[1,0,0,0], 11=[1,0,0,0]
    // (exact dup of 10), 12=[0,1,0,0] (orthogonal to 10, equally
    // relevant), 13=[0,0,1,0] (irrelevant). rel ppm: 10/11/12 all
    // floor(1e6/√2)=707106, 13=0. Pick1: rel tie → doc_id → 10
    // (mmr10=7·707106=4949742). Pick2: the DIVERSITY FLIP — dup 11
    // scores 7·707106−3·1000000=1949742, orthogonal 12 scores
    // 7·707106−3·0=4949742 → 12 wins despite equal relevance. Pick3:
    // 11 (1949742) over 13 (0). Pick4: 13. Only 4 candidates for
    // MmrK=5 → 4 picks, graceful.
    val mvecs = Seq(
      0L -> Array(1f, 1f, 0f, 0f),
      10L -> Array(1f, 0f, 0f, 0f),
      11L -> Array(1f, 0f, 0f, 0f),
      12L -> Array(0f, 1f, 0f, 0f),
      13L -> Array(0f, 0f, 1f, 0f))
    val out = Retrieval.mmrDiversify(spark, corpusDir(docs, mvecs)).collect()
    graft.CacheScope.release()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L, 12L, 11L, 13L))
    assert(out.map(_.getAs[Long]("pick")).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.map(_.getAs[Long]("mmr10")).toSeq ==
      Seq(4949742L, 4949742L, 1949742L, 0L))
    assert(out(0).isNullAt(out(0).fieldIndex("maxsim_ppm")))
    assert(out.drop(1).map(_.getAs[Long]("maxsim_ppm")).toSeq ==
      Seq(0L, 1000000L, 0L))
  }

  test("x142 corpus invariants: pick contiguity, maxsim only null first") {
    val out = Retrieval.mmrDiversify(spark, sfDir).collect()
    graft.CacheScope.release()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 10)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("pick"))
      assert(sorted.map(_.getAs[Long]("pick")).sameElements(1L to rows.length))
      // exactly the first pick lacks a selected set
      assert(sorted.head.isNullAt(sorted.head.fieldIndex("maxsim_ppm")))
      assert(sorted.tail.forall(r => !r.isNullAt(r.fieldIndex("maxsim_ppm"))))
      // no doc picked twice
      val ds = rows.map(_.getAs[Long]("doc_id"))
      assert(ds.distinct.length == ds.length)
    }
  }

  test("x146: hand-computed metrics incl. a no-embedding candidate") {
    // doc 11 has NO embedding: dense ranks cover only 10,12 (cos tie
    // 1/√2 → vec_id: 10=1, 12=2); lexical ranks 11=1, 10=2 (the x140
    // scores). fused: 10 → 1/62+1/61 (rank 1), 11 → 1/61 (rank 2,
    // lexical-only), 12 → 1/62 (rank 3). labels: q0=1, 10=2, 12=1;
    // 11 unembedded → never relevant. So n_rel=1 (doc 12 at rank 3),
    // prec@5 = 200000 ppm, first_rel_rank = 3, rr = 1000000 div 3 =
    // 333333.
    val dir = java.nio.file.Files.createTempDirectory("graft_ev_").toString
    import spark.implicits._
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((0L, Array(1f, 0f, 0f, 0f), 1),
        (10L, Array(1f, 1f, 0f, 0f), 2),
        (12L, Array(1f, 0f, 1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Retrieval.retrievalEval(spark, dir).collect()
    graft.CacheScope.release()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_rel_at_k") == 1L)
    assert(r.getAs[Long]("prec_at_k_ppm") == 200000L)
    assert(r.getAs[Long]("first_rel_rank") == 3L)
    assert(r.getAs[Long]("rr_ppm") == 333333L)
  }

  test("x146 corpus invariants: metric consistency per query") {
    val out = Retrieval.retrievalEval(spark, sfDir).collect()
    graft.CacheScope.release()
    assert(out.length == 10)
    out.foreach { r =>
      val n = r.getAs[Long]("n_rel_at_k")
      assert(n >= 0L && n <= 5L)
      assert(r.getAs[Long]("prec_at_k_ppm") == n * 200000L)
      val idx = r.fieldIndex("first_rel_rank")
      if (r.isNullAt(idx)) assert(r.getAs[Long]("rr_ppm") == 0L)
      else {
        val fr = r.getLong(idx)
        assert(fr >= 1L && fr <= 5L && n >= 1L)
        assert(r.getAs[Long]("rr_ppm") == 1000000L / fr)
      }
    }
  }

  test("x140/x141 corpus invariants: query cover, rank contiguity, bounds") {
    val bm = Retrieval.bm25Retrieval(spark, sfDir).cache()
    val rrf = Retrieval.hybridRrf(spark, sfDir).cache()
    graft.CacheScope.release()
    // no self-retrieval, ranks contiguous from 1, scores descending
    for (df <- Seq(bm, rrf)) {
      assert(df.filter(col("query_id") === col("doc_id")).count() == 0)
      val byQ = df.collect().groupBy(_.getAs[Long]("query_id"))
      assert(byQ.size == 10, s"expected 10 query groups, got ${byQ.size}")
      byQ.values.foreach { rows =>
        assert(rows.map(_.getAs[Long]("rank")).sorted
          .sameElements(1L to rows.length))
      }
    }
    val bmRows = bm.collect().groupBy(_.getAs[Long]("query_id"))
    bmRows.values.foreach { rows =>
      val s = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("score_ppm"))
      assert(s.zip(s.tail).forall { case (a, b) => a >= b })
      // the in-band champion-list report: every query says how many
      // candidates its terms nominated, constant within the query and
      // at least the rows returned; at this SF max df (415) < ChampM
      // (1024) so truncation is a no-op and n_cand is the full
      // postings-union candidate count
      val nc = rows.map(_.getAs[Long]("n_cand")).distinct
      assert(nc.length == 1 && nc.head >= rows.length,
        s"n_cand inconsistent or too small: ${nc.toSeq}")
    }
    // fused score bounded by the two best possible ranks; at least one
    // ranker nominated every fused row
    assert(rrf.filter(col("rrf_score") > 2.0 / 61.0).count() == 0)
    assert(rrf.filter(col("in_lex") + col("in_dense") < 1).count() == 0)
    bm.unpersist(); rrf.unpersist()
  }
}
