package graft.ext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{Sketches, TextExpressions, VectorExpressions}

/** SQL surface for the engine's custom expressions, installed via the
  * standard extension mechanism:
  *
  * {{{
  * spark.sql.extensions=graft.ext.GraftExtensions   // graft.Harness.session sets it
  * spark.sql("SELECT graft_dot(a, b), graft_lang_id(text) FROM t")
  * }}}
  *
  * Each function maps 1:1 onto the codegen expressions in
  * graft.functions — DataFrame DSL users call those directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // custom physical operator: AsOfJoinPlan → AsOfJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)

    // hash-first COUNT(DISTINCT <string>) — the x01 identity contract
    // as an automatic optimization (see HashFirstDistinctRule)
    ext.injectOptimizerRule(_ => graft.plans.HashFirstDistinctRule)

    // the function's SQL name and its ExpressionInfo name are one value
    def register(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))

    register("graft_dot", classOf[VectorExpressions.DotProduct])(a =>
      VectorExpressions.DotProduct(a(0), a(1)))
    register("graft_cosine", classOf[VectorExpressions.CosineSim])(a =>
      VectorExpressions.CosineSim(a(0), a(1)))
    register("graft_shingle_hashes", classOf[TextExpressions.WordShingleHashes])(a =>
      TextExpressions.WordShingleHashes(a(0), intArg(a(1), "shingle width")))
    register("graft_lang_id", classOf[TextExpressions.LangId])(a => TextExpressions.LangId(a(0)))
    register("graft_shingles", classOf[TextExpressions.WordShingleStrings])(a =>
      TextExpressions.WordShingleStrings(a(0), intArg(a(1), "shingle width")))
    register("graft_top_token_share", classOf[TextExpressions.TopTokenShare])(a =>
      TextExpressions.TopTokenShare(a(0)))
    register("graft_quality", classOf[TextExpressions.QualitySignals])(a =>
      TextExpressions.QualitySignals(a(0)))
    register("graft_fingerprint", classOf[TextExpressions.FingerprintSketch])(a =>
      TextExpressions.FingerprintSketch(a(0), intArg(a(1), "gram width"), intArg(a(2), "sketch size")))
    register("graft_minhash", classOf[VectorExpressions.MinHashSignature]) { a =>
      import org.apache.spark.sql.graftshim.{toColumn, toExpression}
      toExpression(Sketches.minhashSignature(toColumn(a(0)), intArg(a(1), "k"),
        if (a.size > 2) intArg(a(2), "seed").toLong else 42L))
    }
  }
}

/** Driver-checked query for the SQL surface itself: a pure
  * `spark.sql(...)` pipeline over the registered temp views using the
  * extension-injected functions (graft_lang_id, graft_quality,
  * graft_shingles) — proving a SQL-only user of the library gets the
  * same hash-checked results as the DataFrame DSL. The oracle reuses
  * the x27/x11 CTE fragments, so the SQL surface, the DSL, and DuckDB
  * are pinned to one semantics. */
object SqlSurface {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  def sqlSurfaceQuery(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql("""
      SELECT doc_id,
             graft_lang_id(text) AS predicted_lang,
             graft_quality(text).quality AS quality,
             CAST(size(graft_shingles(text, 8)) AS BIGINT) AS n_grams
      FROM documents ORDER BY doc_id""")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x80_sql_surface" -> (sqlSurfaceQuery _))

  val oracles: Map[String, String] = Map(
    "x80_sql_surface" -> s"""
      WITH ${TextAnalysis.CurationGateSql},
      idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t)-7, 1)+1)) AS i FROM toks),
      ng AS (SELECT doc_id,
          CAST(COUNT(DISTINCT array_to_string(t[i:i+7], ' ')) AS BIGINT) AS n_grams
        FROM idx GROUP BY 1)
      SELECT d.doc_id, lp.predicted AS predicted_lang, qu.q AS quality, ng.n_grams
      FROM documents d
      JOIN lang_pred lp ON d.doc_id = lp.doc_id AND lp.rn = 1
      JOIN quality qu ON d.doc_id = qu.doc_id
      JOIN ng ON d.doc_id = ng.doc_id
      ORDER BY d.doc_id""")
}
