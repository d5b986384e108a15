package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{toColumn, toExpression}

/** Text-analysis building blocks for large-scale training-data pipelines
  * (language ID, quality scoring, token counting, fingerprinting — the
  * driver's north-star extensions; no analog in the reference, which has
  * only `email.str.contains('@')`-class string ops, main.py:440).
  *
  * Everything here is a native Column expression (whole-stage codegen;
  * no UDF serialization boundary), so it runs at full scan speed over
  * 100 TB of documents: each function is a per-row map — no shuffle.
  */
object TextFunctions {

  /** Lowercased whitespace tokens. `trim` first so leading/trailing
    * whitespace can't produce empty boundary tokens. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword token count: letter runs, digit runs, and single
    * punctuation marks each count as one token (the pre-tokenization
    * split most BPE vocabularies assume). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(trim(text)), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Distinct word n-gram "shingles" of a document, as text. The shingle
    * set is the unit of Jaccard similarity for near-dup detection. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** 60-bit hashes of the distinct shingle set, bit-identical to
    * `transform(wordShingles(text, n), g -> conv(substr(md5(g), 1, 15), 16, 10))`
    * ([[TextExpressions.WordShinglePortableHashes]]): a DuckDB oracle can
    * rebuild them, where xxhash64 cannot leave Spark. Downstream MinHash
    * works on these longs, never re-touching the strings. */
  def shingleHashes(text: Column, n: Int): Column =
    toColumn(TextExpressions.WordShinglePortableHashes(toExpression(text), n))

  // ---- language ID ----------------------------------------------------

  /** Tiny public stopword lists; enough signal for a deterministic
    * n-gram/stopword heuristic language ID. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "for", "on", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den", "von", "sich"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no", "por", "los"),
    "fr" -> Seq("le", "la", "de", "et", "un", "que", "pour", "dans", "ce", "les", "des", "est"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这", "中", "大"))

  /** Fraction of tokens that are stopwords of `lang`. English rides the
    * compiled single-pass [[TextExpressions.QualitySignals]] struct (the
    * interpreted `filter(tokens, ...)` HOF here was the x12 hot path —
    * 7.1 s at sf0.1 for 5k docs); other languages keep the HOF form
    * (only used per-language by langId's spec harness, never in a
    * corpus-scan query). */
  def stopwordRatio(text: Column, lang: String): Column =
    if (lang == "en") TextExpressions.qualitySignals(text).getField("stopword_ratio")
    else {
      val sw = array(stopwords(lang).map(lit): _*)
      size(filter(tokens(text), t => array_contains(sw, t)))
        .cast("double") / greatest(tokenCount(text), lit(1)).cast("double")
    }

  /** Heuristic language ID: argmax of per-language stopword ratios.
    * Deterministic tie-break: lexicographically larger language code wins.
    * Single-pass compiled expression (the equivalent
    * `greatest(struct(stopwordRatio(l), l))` HOF chain re-tokenizes the
    * text once per language). Returns the 2-letter code. */
  def langId(text: Column): Column = TextExpressions.langId(text)

  // ---- quality scoring ------------------------------------------------

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?'\"()-]", ""))
      .cast("double") / greatest(length(text), lit(1)).cast("double")

  /** Mean token length (characters, whitespace excluded). */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(trim(text), "\\s", ""))
      .cast("double") / greatest(tokenCount(text), lit(1)).cast("double")

  /** Composite document quality score in [0, 100]: rewards prose-like
    * length, sane punctuation density, a natural stopword ratio and
    * word lengths. A deterministic heuristic (the classic Gopher-style
    * rule-based filter family), NOT a learned model. One compiled
    * tokenization pass ([[TextExpressions.QualitySignals]]); the formula
    * (and its DuckDB twin) is documented on that expression. */
  def qualityScore(text: Column): Column =
    TextExpressions.qualitySignals(text).getField("quality")

  /** All quality signals as one struct column — use this when a query
    * needs several of them (x12): common-subexpression elimination
    * collapses the field extractions to ONE evaluation per row. */
  def qualitySignals(text: Column): Column = TextExpressions.qualitySignals(text)

  // ---- repetition signals ---------------------------------------------

  /** Fraction of tokens that repeat an earlier token (0 = all distinct). */
  def dupTokenRatio(text: Column): Column = {
    val toks = tokens(text)
    lit(1.0) - size(array_distinct(toks)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Frequency share of the single most common token — the
    * `top_token_ratio` of the compiled [[TextExpressions.RepetitionStats]]
    * (per-row hash-map count, no shuffle; the explode+groupBy formulation
    * would shuffle every token in the corpus, and an interpreted HOF fold
    * measured 60× slower). */
  def topTokenRatio(text: Column): Column =
    TextExpressions.repetitionStats(text).getField("top_token_ratio")

  // ---- fingerprinting -------------------------------------------------

  /** Winnowing-style document fingerprint: the k smallest MD5 digests of
    * the document's word 8-gram shingles, ascending. Two documents
    * sharing any fingerprint element share an 8-gram run. MD5 (not
    * xxhash64) so an external engine can rebuild the identical sketch —
    * DuckDB/pandas md5() over UTF-8 produce the same lowercase hex. */
  def fingerprintSketch(text: Column, k: Int): Column =
    TextExpressions.fingerprintSketch(text, 8, k)
}
