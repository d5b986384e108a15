package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorExpressions.Md5Prefix60

/** Single-pass compiled expressions for the text hot paths. The Column
  * HOF formulations in [[TextFunctions]] re-tokenize per derived value
  * (langId alone splits the text 10×) and evaluate their lambdas
  * interpreted; these kernels tokenize ONCE per row through [[tokens]]
  * in compiled Scala. Their generated code is one callback into
  * `nullSafeEval` ([[UnaryCallback]]), so the hosting Project stays
  * inside whole-stage codegen.
  */
object TextExpressions {

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** The tokens of `split(lower(trim(text)), "\\s+")`, the Column form
    * every kernel here matches bit for bit (and the DuckDB oracles with
    * it):
    *  - `UTF8String.trim` is Spark's trim(): it strips ASCII spaces only,
    *    where Java's String.trim also strips \t and \n;
    *  - `UTF8String.toLowerCase` is Spark's lower(): locale-independent,
    *    where Java's String.toLowerCase follows the JVM locale (Turkish
    *    'I' → 'ı');
    *  - Java's `\s` is [ \t\n\x0B\f\r], ASCII only: NBSP, U+2003, U+3000
    *    and U+0085 are token characters, not separators;
    *  - limit −1 keeps leading and trailing empty tokens, so "\ta" gives
    *    ["", "a"] and "" gives [""].
    * The pattern is compiled once: `String.split` takes its no-regex fast
    * path only for one-character patterns and compiles `\s+` per call. */
  def tokens(u: UTF8String): Array[String] = Whitespace.split(u.trim.toLowerCase.toString, -1)

  /** Java regex `\s` on one codepoint: [ \t\n\x0B\f\r], ASCII only. */
  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'

  /** `length(regexp_replace(s, "\\s", ""))`: the codepoints of `s` that
    * are not [[isWs]]. */
  private def nonWsCount(s: String): Int = {
    var n = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!isWs(cp)) n += 1
      i += Character.charCount(cp)
    }
    n
  }

  /** The max(len − n, 0) + 1 windows of n consecutive tokens, each joined
    * by one space, in token order; fewer than n tokens give one gram of
    * all of them. The grams of [[TextFunctions.wordShingles]] before its
    * `array_distinct`. */
  private def grams(toks: Array[String], n: Int): Array[String] = {
    val list = java.util.Arrays.asList(toks: _*)
    Array.tabulate(math.max(toks.length - n, 0) + 1)(i =>
      String.join(" ", list.subList(i, math.min(i + n, toks.length))))
  }

  /** [[grams]] without repeats, in first-seen order (`array_distinct`'s). */
  private def distinctGrams(toks: Array[String], n: Int): Array[String] =
    new java.util.LinkedHashSet[String](java.util.Arrays.asList(grams(toks, n): _*))
      .toArray(new Array[String](0))

  /** The distinct word n-grams themselves (strings), bit-identical to
    * [[TextFunctions.wordShingles]] but one compiled pass: tokenize once,
    * build each gram once, no interpreted HOF lambda per element. Used
    * where the gram must survive as a join key an external engine can
    * reproduce (e.g. decontamination); prefer [[WordShinglePortableHashes]]
    * when only identity matters. */
  case class WordShingleStrings(child: Expression, n: Int) extends UnaryCallback {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(distinctGrams(tokens(v.asInstanceOf[UTF8String]), n)
        .map[Any](UTF8String.fromString))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Word n-grams WITH their 0-based starting token position — the
    * positional variant of [[WordShingleStrings]], and deliberately NOT
    * distinct: a gram occurring twice occupies two spans. Output
    * array<struct<pos:int, gram:string>>, one compiled pass. Feeds
    * span-cover operators that need to know WHERE a gram sits (e.g.
    * boilerplate masking), where the distinct variants only answer
    * whether it occurs. */
  case class WordShinglePositional(child: Expression, n: Int) extends UnaryCallback {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))), containsNull = false)

    override def nullSafeEval(v: Any): Any = {
      val gs = grams(tokens(v.asInstanceOf[UTF8String]), n)
      new GenericArrayData(Array.tabulate[Any](gs.length)(i =>
        new GenericInternalRow(Array[Any](i, UTF8String.fromString(gs(i))))))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The k lexicographically-smallest MD5 hex digests of the distinct
    * word n-gram shingles, ascending — a winnowing-style fingerprint
    * sketch in an engine-portable encoding: MD5-over-UTF-8 produces the
    * identical lowercase hex string in Spark, DuckDB, and pandas, so an
    * external oracle can rebuild the selection (xxhash64 seeds are
    * Spark-internal and cannot). One compiled pass per row: tokenize,
    * build grams, digest, keep the k smallest — scan speed, no shuffle. */
  case class FingerprintSketch(child: Expression, n: Int, k: Int) extends UnaryCallback {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def nullSafeEval(v: Any): Any = {
      val hex = java.util.HexFormat.of() // lowercase, as md5() prints it
      val hashes = distinctGrams(tokens(v.asInstanceOf[UTF8String]), n)
        .map(g => hex.formatHex(Md5Prefix60.md5(g.getBytes(UTF_8)))).sorted
      new GenericArrayData(hashes.take(k).map[Any](UTF8String.fromString))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Portable 60-bit hash of each distinct word n-gram: the first 15 hex
    * chars of the gram's MD5, parsed as a long ([[Md5Prefix60.hash]]).
    * The hash is reproducible in ANY engine — md5 + hex prefix + integer
    * parse — which is what lets DuckDB rebuild the entire
    * MinHash/LSH/Jaccard pipeline for the correctness gate. 60 bits stays
    * positive in a signed 64-bit int in every engine. */
  case class WordShinglePortableHashes(child: Expression, n: Int) extends UnaryCallback {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(distinctGrams(tokens(v.asInstanceOf[UTF8String]), n)
        .map(g => Md5Prefix60.hash(g.getBytes(UTF_8))))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Portable 60-bit SimHash over a token MULTISET: per-bit majority
    * vote of each token's md5-prefix hash (15 hex chars = 60 bits, the
    * same engine-portable construction as [[WordShinglePortableHashes]]).
    * 4×15-bit pigeonhole bands preserve the hamming ≤ 3 guarantee.
    * Repeated tokens vote repeatedly — SimHash weighs by term frequency
    * (that's what distinguishes it from a set sketch). */
  case class SimHashPortable(child: Expression) extends UnaryCallback {

    override def dataType: DataType = LongType

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val counts = new Array[Int](60)
      val n = arr.numElements()
      var t = 0
      while (t < n) {
        val h = Md5Prefix60.hash(arr.getUTF8String(t).toString.getBytes(UTF_8))
        var i = 0
        while (i < 60) { counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
        t += 1
      }
      var out = 0L
      var i = 0
      while (i < 60) { if (counts(i) > 0) out |= (1L << i); i += 1 }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** All text-quality signals in ONE tokenization pass, bit-identical to
    * the Column formulations in [[TextFunctions]] (same IEEE op order, so
    * the DuckDB oracles keep hash-matching):
    *
    *   punct_ratio    = punct chars / max(chars, 1)
    *   stopword_ratio = EN-stopword tokens / max(tokens, 1)
    *   avg_token_len  = non-whitespace chars of trim(text) / max(tokens, 1)
    *   n_tokens       = whitespace token count
    *   quality        = the Gopher-style composite in [0, 100]
    *
    * Replaces the interpreted `filter(tokens, ...)` HOF the x12 hot path
    * used to evaluate twice per row (measured 7.1 s at sf0.1; per-token
    * interpreted lambdas are the 100× scan-path trap). */
  case class QualitySignals(child: Expression) extends UnaryCallback {

    override def dataType: DataType = StructType(Seq(
      StructField("punct_ratio", DoubleType, nullable = false),
      StructField("stopword_ratio", DoubleType, nullable = false),
      StructField("avg_token_len", DoubleType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("quality", DoubleType, nullable = false)))

    private val stopSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String]()
      TextFunctions.stopwords("en").foreach(s.add)
      s
    }

    // the same set the Column form's regex [^.,;:!?'"()-] keeps
    private def isPunct(cp: Int): Boolean = cp match {
      case '.' | ',' | ';' | ':' | '!' | '?' | '\'' | '"' | '(' | ')' | '-' => true
      case _ => false
    }

    override def nullSafeEval(v: Any): Any = {
      val u = v.asInstanceOf[UTF8String]
      val str = u.toString
      // codepoint counts — Spark's length() counts codepoints, not chars
      var charLen = 0
      var punct = 0
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        charLen += 1
        if (isPunct(cp)) punct += 1
        i += Character.charCount(cp)
      }
      val nonWs = nonWsCount(u.trim.toString)
      val toks = tokens(u)
      var stops = 0
      i = 0
      while (i < toks.length) {
        if (stopSet.contains(toks(i))) stops += 1
        i += 1
      }
      val nTokens = math.max(toks.length, 1)
      val punctRatio = punct.toDouble / math.max(charLen, 1).toDouble
      val stopRatio = stops.toDouble / nTokens.toDouble
      val avgTokenLen = nonWs.toDouble / nTokens.toDouble
      val lengthScore = math.min(charLen.toDouble / 500.0, 1.0)
      val punctScore = 1.0 - math.min(punctRatio * 5.0, 1.0)
      val stopScore = math.min(stopRatio * 4.0, 1.0)
      val wordLenScore = if (avgTokenLen >= 3.0 && avgTokenLen <= 10.0) 1.0 else 0.5
      val quality = lengthScore * 25.0 + punctScore * 25.0 +
        stopScore * 25.0 + wordLenScore * 25.0
      new GenericInternalRow(
        Array[Any](punctRatio, stopRatio, avgTokenLen, toks.length.toLong, quality))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Token statistics in ONE codepoint pass, bit-identical to the three
    * Column formulations x10 used to evaluate separately (each of which
    * re-walked the text through its own regex and materialized arrays
    * just to count them):
    *
    *   n_tokens      = size(split(lower(trim(text)), "\\s+"))
    *                   ≡ (number of \s+ runs) + 1 — Java split with a
    *                   negative limit keeps leading/trailing empties, so
    *                   every separator run adds exactly one boundary
    *   n_bpe_tokens  = size(regexp_extract_all(lower(trim(text)),
    *                     "[a-z]+|[0-9]+|[^a-z0-9\\s]")) — the alternation
    *                   is leftmost-greedy, so it counts letter RUNS,
    *                   digit RUNS, and every other non-ws codepoint
    *                   individually; a 4-state machine reproduces it
    *   avg_token_len = non-ws codepoints of trim(text) / max(n_tokens, 1)
    *
    * The regex formulation measured 25.8× at the 100× ScaleCheck volume
    * (7.0 s for 55 MB of text on 32 cores — ~2 µs/char, all regex engine
    * and UTF8String→String→array churn); this is the QualitySignals fix
    * applied to the x10/x45 scan path. */
  case class TokenStats(child: Expression) extends UnaryCallback {

    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("n_bpe_tokens", LongType, nullable = false),
      StructField("avg_token_len", DoubleType, nullable = false)))

    override def nullSafeEval(v: Any): Any = {
      // Spark's trim() and lower(), as in [[tokens]]. avg_token_len's
      // numerator counts the TRIMMED original (the Column form
      // regex_replaces trim(text), not the lowered string — toLowerCase
      // can change the codepoint count)
      val trimmed = v.asInstanceOf[UTF8String].trim
      val nonWs = nonWsCount(trimmed.toString)
      // one pass over the lowered string: \s+ run count (≡ split
      // boundaries) and the BPE-ish state machine
      val lstr = trimmed.toLowerCase.toString
      var wsRuns = 0L
      var bpe = 0L
      var prev = -1 // 0 = ws, 1 = letter run, 2 = digit run, 3 = other
      var i = 0
      while (i < lstr.length) {
        val cp = lstr.codePointAt(i)
        val cls =
          if (isWs(cp)) 0
          else if (cp >= 'a' && cp <= 'z') 1
          else if (cp >= '0' && cp <= '9') 2
          else 3
        if (cls == 0) { if (prev != 0) wsRuns += 1 }
        else if (cls == 3) bpe += 1
        else if (cls != prev) bpe += 1
        prev = cls
        i += Character.charCount(cp)
      }
      val nTokens = wsRuns + 1
      val avg = nonWs.toDouble / math.max(nTokens, 1L).toDouble
      new GenericInternalRow(
        Array[Any](nTokens, bpe, avg))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** x37's PII redaction signals in one compiled pass, bit-identical to
    * the four Column expressions it replaces:
    *
    *   n_emails     = size(regexp_extract_all(t, emailRe, 0))
    *   n_phones     = size(regexp_extract_all(t, phoneRe, 0))   (on t,
    *                  not the email-redacted text — count semantics)
    *   len_raw      = length(t)                       (codepoints)
    *   len_redacted = length(regexp_replace(
    *                    regexp_replace(t, emailRe, "<EMAIL>"),
    *                    phoneRe, "<PHONE>"))
    *
    * Same java.util.regex engine and non-overlapping leftmost match
    * semantics Spark's regexp_* use; the literal sentinels contain no
    * $/\\ so replaceAll processes them identically. The Column form ran
    * FOUR regex passes per document and materialized two match arrays
    * just to size() them — plus a UTF8String→String conversion per
    * expression; this runs three matcher passes (email count+replace
    * fused) on one converted String. */
  case class PiiRedactionStats(child: Expression, emailRe: String, phoneRe: String)
      extends UnaryCallback {

    override def dataType: DataType = StructType(Seq(
      StructField("n_emails", LongType, nullable = false),
      StructField("n_phones", LongType, nullable = false),
      StructField("len_raw", LongType, nullable = false),
      StructField("len_redacted", LongType, nullable = false)))

    @transient private lazy val emailP = java.util.regex.Pattern.compile(emailRe)
    @transient private lazy val phoneP = java.util.regex.Pattern.compile(phoneRe)

    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      val lenRaw = s.codePointCount(0, s.length).toLong
      // email pass: count and replace in one matcher sweep
      var nEmails = 0L
      val em = emailP.matcher(s)
      val sb = new java.lang.StringBuilder()
      while (em.find()) { nEmails += 1; em.appendReplacement(sb, "<EMAIL>") }
      em.appendTail(sb)
      val redE = sb.toString
      // phone count on the ORIGINAL text (the Column form's semantics)
      var nPhones = 0L
      val pm = phoneP.matcher(s)
      while (pm.find()) nPhones += 1
      // phone replace on the email-redacted text (nested regexp_replace)
      val red = phoneP.matcher(redE).replaceAll("<PHONE>")
      val lenRed = red.codePointCount(0, red.length).toLong
      new GenericInternalRow(
        Array[Any](nEmails, nPhones, lenRaw, lenRed))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Number of distinct token positions covered by the union of the
    * intervals [pos, min(pos+span-1, nTokens-1)] — the x73 boilerplate
    * span coverage, computed DOC-LOCALLY over the (small, ≤ tokens-per-
    * doc) position list instead of exploding every hot-gram occurrence
    * into `span` rows and running a corpus-wide distinct: that plan
    * shuffled 8× the gram-occurrence mass through one exchange and the
    * deduped positions through a second; this one shuffles each
    * occurrence once (into the doc-keyed collect_list) and does integer
    * set algebra per doc. Identical count by construction (interval
    * union ≡ distinct of the exploded positions). */
  case class CoveredTokenCount(left: Expression, right: Expression, span: Int)
      extends BinaryCallback {

    override def dataType: DataType = LongType

    override def nullSafeEval(posv: Any, ntok: Any): Any = {
      val arr = posv.asInstanceOf[ArrayData]
      val n = ntok.asInstanceOf[Long]
      val m = arr.numElements()
      val ps = new Array[Long](m)
      var i = 0
      while (i < m) { ps(i) = arr.getLong(i); i += 1 }
      java.util.Arrays.sort(ps)
      var covered = 0L
      var prevEnd = 0L // exclusive end of the union swept so far
      i = 0
      while (i < m) {
        val start = math.max(ps(i), prevEnd)
        val end = math.min(ps(i) + span, n) // exclusive
        if (end > start) covered += end - start
        if (end > prevEnd) prevEnd = end
        i += 1
      }
      java.lang.Long.valueOf(covered)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** All repetition signals in ONE tokenize+hash-count pass,
    * bit-identical to the x38 Column forms:
    *
    *   n_tokens        = size(split(lower(trim(text)), "\\s+"))
    *   dup_token_ratio = 1.0 − distinct/max(n, 1)
    *   top_token_ratio = maxCount/max(n, 1)
    *
    * The per-signal spelling walked the text three times (two splits +
    * an array_distinct allocation per row just to count unique tokens);
    * the hash map already knows both the distinct count (its size) and
    * the top count (its max). */
  case class RepetitionStats(child: Expression) extends UnaryCallback {

    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("dup_token_ratio", DoubleType, nullable = false),
      StructField("top_token_ratio", DoubleType, nullable = false)))

    override def nullSafeEval(v: Any): Any = {
      val toks = tokens(v.asInstanceOf[UTF8String])
      val counts = new java.util.HashMap[String, Int](toks.length * 2)
      var max = 0
      var i = 0
      while (i < toks.length) {
        val c = counts.merge(toks(i), 1, (a, b) => a + b)
        if (c > max) max = c
        i += 1
      }
      val n = toks.length.toLong
      val denom = math.max(n, 1L).toDouble
      new GenericInternalRow(
        Array[Any](n,
          1.0 - counts.size.toDouble / denom,
          max.toDouble / denom))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Heuristic language ID in one tokenization pass: per-language
    * stopword hit counts, argmax with the same tie-break as
    * `greatest(struct(score, lang))` in [[TextFunctions.langId]] —
    * equal scores → lexicographically larger language code wins. */
  case class LangId(child: Expression) extends UnaryCallback {

    override def dataType: DataType = StringType

    // langs sorted ascending; token → bitmask of matching langs
    private val langs: Array[String] = TextFunctions.stopwords.keys.toArray.sorted
    private val mask: java.util.HashMap[String, Int] = {
      val m = new java.util.HashMap[String, Int]()
      langs.zipWithIndex.foreach { case (l, i) =>
        TextFunctions.stopwords(l).foreach { w =>
          m.merge(w, 1 << i, (a, b) => a | b)
        }
      }
      m
    }

    override def nullSafeEval(v: Any): Any = {
      val toks = tokens(v.asInstanceOf[UTF8String])
      val counts = new Array[Int](langs.length)
      var i = 0
      while (i < toks.length) {
        val m = mask.getOrDefault(toks(i), 0)
        if (m != 0) {
          var l = 0
          while (l < langs.length) {
            if ((m & (1 << l)) != 0) counts(l) += 1
            l += 1
          }
        }
        i += 1
      }
      // argmax; ties → larger lang code (scan ascending, >= keeps later)
      var best = 0
      var l = 1
      while (l < langs.length) {
        if (counts(l) >= counts(best)) best = l
        l += 1
      }
      UTF8String.fromString(langs(best))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** WINNOWED positional word n-grams — the standard winnowing
    * reduction (Schleimer et al., SIGMOD 2003: the MOSS fingerprint
    * selection) applied doc-locally in one compiled pass: build every
    * positional n-gram like [[WordShinglePositional]], hash each gram
    * with the engine-portable 60-bit md5 prefix (the
    * [[WordShinglePortableHashes]] encoding, so a DuckDB oracle can
    * replay the SELECTION bit-for-bit), then slide a window of `w`
    * consecutive gram positions and keep, per window, the position
    * with the smallest hash (ties to the RIGHTMOST — the paper's
    * robust-winnowing tie-break). Output is the selected subset in
    * ascending position, same struct as the unwinnowed variant.
    *
    * Why: span-cover operators shuffle every gram occurrence; at the
    * 100x ScaleCheck volume that shuffle is the whole cost. Winnowing
    * cuts the shuffled mass to ~2/(w+1) of the occurrences BEFORE the
    * exchange, with the published guarantee that any shared span of at
    * least w+n-1 tokens still shares a selected fingerprint — so
    * boilerplate SPANS (which are long by definition) survive while
    * incidental single-gram overlaps may not. Selection is per
    * document and hash-deterministic: the same text selects the same
    * positions in every engine. */
  case class WinnowedPositional(child: Expression, n: Int, w: Int) extends UnaryCallback {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))), containsNull = false)

    override def nullSafeEval(v: Any): Any = {
      val gs = grams(tokens(v.asInstanceOf[UTF8String]), n)
      val hs = gs.map(g => Md5Prefix60.hash(g.getBytes(UTF_8)))
      val m = gs.length
      // windows j..j+w-1 (clamped); ascending scan with <= keeps the
      // rightmost minimum — selections accumulate in a sorted set
      // because a later window can select an earlier position than a
      // previous window's rightmost-tie pick
      val numWin = math.max(m - w + 1, 1)
      val sel = new java.util.TreeSet[Integer]()
      var j = 0
      while (j < numWin) {
        var best = j
        var k = j + 1
        val end = math.min(j + w, m)
        while (k < end) { if (hs(k) <= hs(best)) best = k; k += 1 }
        sel.add(best)
        j += 1
      }
      val out = new Array[Any](sel.size)
      val it = sel.iterator()
      var o = 0
      while (it.hasNext) {
        val p = it.next().intValue()
        out(o) = new GenericInternalRow(Array[Any](p, UTF8String.fromString(gs(p))))
        o += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-document token frequencies in ONE compiled pass:
    * array<struct<token, tf>> with one entry per DISTINCT token of
    * `split(lower(trim(text)), "\\s+")` (first-seen order) and tf its
    * occurrence count — value-identical, after explode, to the
    * `explode(tokens(text)) → groupBy(doc, token) → count` chain every
    * postings build spelled (guide §2.3 "aggregate before you
    * shuffle", taken to its limit: the per-doc aggregation happens
    * inside the scan task, so the explode emits ALREADY-UNIQUE
    * (doc, token, tf) rows and the downstream groupBy vanishes — no
    * 1M-row explode feeding a hash aggregate, no exchange of raw token
    * mass). Empty text yields the [""] token exactly like the split
    * chain ([[tokens]]); callers keep their length>0 filters.
    *
    * Precondition: the row key the caller keeps beside the counts (the
    * corpus's `doc_id`) must be unique. The counts are per row, so two
    * rows with one `doc_id` give two (doc, token) rows where the
    * groupBy chain gave one summed row. */
  case class TokenCounts(child: Expression) extends UnaryCallback {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("token", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false)

    override def nullSafeEval(v: Any): Any = {
      val toks = tokens(v.asInstanceOf[UTF8String])
      val counts = new java.util.LinkedHashMap[String, Long](toks.length * 2)
      var i = 0
      while (i < toks.length) {
        counts.merge(toks(i), 1L, (a, b) => a + b)
        i += 1
      }
      val out = new Array[Any](counts.size)
      val it = counts.entrySet().iterator()
      var j = 0
      while (it.hasNext) {
        val e = it.next()
        out(j) = new GenericInternalRow(
          Array[Any](UTF8String.fromString(e.getKey), e.getValue))
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-document ADJACENT-BIGRAM frequencies in one compiled pass:
    * array<struct<w1, w2, m>> with one entry per distinct ordered token
    * pair (t[i], t[i+1]) of `split(lower(trim(text)), "\\s+")` and m
    * its occurrence count — value-identical, after explode, to the
    * `slice/arrays_zip/explode → groupBy(doc, w1, w2) → count` chain
    * the bigram-LM family spelled (same rationale as [[TokenCounts]]:
    * the per-doc aggregation happens inside the scan task, so the
    * corpus-mass hash aggregate and the two slice copies + zip-struct
    * allocation per token vanish). Texts with < 2 tokens yield an
    * empty array, exactly like slice(t, 1, max(size-1, 0)).
    *
    * Precondition: as for [[TokenCounts]], the caller's row key
    * (`doc_id`) must be unique, or one document's bigrams come out as
    * several rows instead of one summed row. */
  case class BigramCounts(child: Expression) extends UnaryCallback {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false),
      StructField("m", LongType, nullable = false))), containsNull = false)

    override def nullSafeEval(v: Any): Any = {
      val toks = tokens(v.asInstanceOf[UTF8String])
      if (toks.length < 2) return new GenericArrayData(new Array[Any](0))
      // tokens contain no whitespace (they are split on it), so the
      // space-joined pair is a collision-free map key
      val counts = new java.util.LinkedHashMap[String, Long](toks.length * 2)
      var i = 0
      while (i < toks.length - 1) {
        counts.merge(toks(i) + " " + toks(i + 1), 1L, (a, b) => a + b)
        i += 1
      }
      val out = new Array[Any](counts.size)
      val it = counts.entrySet().iterator()
      var j = 0
      while (it.hasNext) {
        val e = it.next()
        val sep = e.getKey.indexOf(' ')
        out(j) = new GenericInternalRow(
          Array[Any](UTF8String.fromString(e.getKey.substring(0, sep)),
            UTF8String.fromString(e.getKey.substring(sep + 1)), e.getValue))
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  import org.apache.spark.sql.graftshim.{toColumn => column, toExpression => expression}

  def tokenCounts(text: Column): Column =
    column(TokenCounts(expression(text)))

  def bigramCounts(text: Column): Column =
    column(BigramCounts(expression(text)))

  def wordShingleStrings(text: Column, n: Int): Column =
    column(WordShingleStrings(expression(text), n))

  def wordShinglePositional(text: Column, n: Int): Column =
    column(WordShinglePositional(expression(text), n))

  def winnowedPositional(text: Column, n: Int, w: Int): Column =
    column(WinnowedPositional(expression(text), n, w))

  def simHashPortable(tokens: Column): Column =
    column(SimHashPortable(expression(tokens)))

  def fingerprintSketch(text: Column, n: Int, k: Int): Column =
    column(FingerprintSketch(expression(text), n, k))

  def qualitySignals(text: Column): Column = column(QualitySignals(expression(text)))

  def tokenStats(text: Column): Column = column(TokenStats(expression(text)))

  def coveredTokenCount(positions: Column, nTokens: Column, span: Int): Column =
    column(CoveredTokenCount(expression(positions), expression(nTokens), span))

  def repetitionStats(text: Column): Column = column(RepetitionStats(expression(text)))

  def piiRedactionStats(text: Column, emailRe: String, phoneRe: String): Column =
    column(PiiRedactionStats(expression(text), emailRe, phoneRe))

  def langId(text: Column): Column = column(LangId(expression(text)))
}
