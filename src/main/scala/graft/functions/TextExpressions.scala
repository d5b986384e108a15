package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass compiled expressions for the text hot paths. The Column
  * HOF formulations in [[TextFunctions]] re-tokenize per derived value
  * (langId alone splits the text 10×); these tokenize ONCE per row in
  * compiled JVM code (CodegenFallback — the loop itself is compiled,
  * only the expression boundary is interpreted).
  */
object TextExpressions {

  /** xxhash64 of each distinct word n-gram, bit-identical to
    * `transform(array_distinct(shingles), xxhash64)` in
    * [[TextFunctions.shingleHashes]]: same tokenization
    * (split(lower(trim(text)), "\\s+")), same seed-42 XXH64 over UTF-8
    * bytes, same ≤1-shingle behavior for short docs. */
  case class WordShingleHashes(child: Expression, n: Int)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    /** Generated code calls back into the compiled `nullSafeEval` via a
      * reference object — one virtual call per row, but the hosting
      * Project STAYS inside whole-stage codegen (a CodegenFallback
      * expression would evict the whole operator). */
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shingleExpr", this, classOf[WordShingleHashes].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($v);")
    }

    override def nullSafeEval(v: Any): Any = {
      // UTF8String.trim/toLowerCase: Spark's own trim() (ASCII space
      // only) and lower() (locale-independent) semantics — Java
      // String.trim also strips \t/\n, and String.toLowerCase follows
      // the JVM default locale (Turkish 'I'→'ı'), either of which
      // silently diverges from the Column forms and DuckDB oracles
      val toks = v.asInstanceOf[UTF8String].trim.toLowerCase.toString
        .split("\\s+", -1)
      val count = math.max(toks.length - n, 0) + 1
      val seen = new java.util.LinkedHashSet[String](count * 2)
      var i = 0
      while (i < count) {
        val end = math.min(i + n, toks.length)
        seen.add(String.join(" ", java.util.Arrays.asList(toks.slice(i, end): _*)))
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) {
        val s = UTF8String.fromString(it.next())
        out(j) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The distinct word n-grams themselves (strings), bit-identical to
    * [[TextFunctions.wordShingles]] but one compiled pass: tokenize once,
    * build each gram once, no interpreted HOF lambda per element. Used
    * where the gram must survive as a join key an external engine can
    * reproduce (e.g. decontamination); prefer [[WordShingleHashes]] when
    * only identity matters. */
  case class WordShingleStrings(child: Expression, n: Int)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shingleStrExpr", this, classOf[WordShingleStrings].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($v);")
    }

    override def nullSafeEval(v: Any): Any = {
      // UTF8String.trim/toLowerCase: Spark's own trim() (ASCII space
      // only) and lower() (locale-independent) semantics — Java
      // String.trim also strips \t/\n, and String.toLowerCase follows
      // the JVM default locale (Turkish 'I'→'ı'), either of which
      // silently diverges from the Column forms and DuckDB oracles
      val toks = v.asInstanceOf[UTF8String].trim.toLowerCase.toString
        .split("\\s+", -1)
      val count = math.max(toks.length - n, 0) + 1
      val seen = new java.util.LinkedHashSet[String](count * 2)
      var i = 0
      while (i < count) {
        val end = math.min(i + n, toks.length)
        seen.add(String.join(" ", java.util.Arrays.asList(toks.slice(i, end): _*)))
        i += 1
      }
      val out = new Array[AnyRef](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) {
        out(j) = UTF8String.fromString(it.next())
        j += 1
      }
      new GenericArrayData(out)
    }

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
  case class WordShinglePositional(child: Expression, n: Int)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))), containsNull = false)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shinglePosExpr", this, classOf[WordShinglePositional].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($v);")
    }

    override def nullSafeEval(v: Any): Any = {
      // UTF8String.trim/toLowerCase — Spark's own trim/lower semantics
      // (see WordShingleHashes for why Java String's versions diverge)
      val toks = v.asInstanceOf[UTF8String].trim.toLowerCase.toString
        .split("\\s+", -1)
      val count = math.max(toks.length - n, 0) + 1
      val out = new Array[Any](count)
      var i = 0
      while (i < count) {
        val end = math.min(i + n, toks.length)
        val gram = String.join(" ", java.util.Arrays.asList(toks.slice(i, end): _*))
        out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i, UTF8String.fromString(gram)))
        i += 1
      }
      new GenericArrayData(out)
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
  case class FingerprintSketch(child: Expression, n: Int, k: Int)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("fingerprintExpr", this, classOf[FingerprintSketch].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($v);")
    }

    @transient private lazy val md5 =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    private def hex(bytes: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(bytes.length * 2)
      var i = 0
      while (i < bytes.length) {
        sb.append(Character.forDigit((bytes(i) >> 4) & 0xf, 16))
        sb.append(Character.forDigit(bytes(i) & 0xf, 16))
        i += 1
      }
      sb.toString
    }

    override def nullSafeEval(v: Any): Any = {
      // UTF8String.trim/toLowerCase: Spark's own trim() (ASCII space
      // only) and lower() (locale-independent) semantics — Java
      // String.trim also strips \t/\n, and String.toLowerCase follows
      // the JVM default locale (Turkish 'I'→'ı'), either of which
      // silently diverges from the Column forms and DuckDB oracles
      val toks = v.asInstanceOf[UTF8String].trim.toLowerCase.toString
        .split("\\s+", -1)
      val count = math.max(toks.length - n, 0) + 1
      val seen = new java.util.LinkedHashSet[String](count * 2)
      var i = 0
      while (i < count) {
        val end = math.min(i + n, toks.length)
        seen.add(String.join(" ", java.util.Arrays.asList(toks.slice(i, end): _*)))
        i += 1
      }
      val digest = md5.get()
      val hashes = new java.util.ArrayList[String](seen.size)
      val it = seen.iterator()
      while (it.hasNext) {
        digest.reset()
        hashes.add(hex(digest.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))))
      }
      java.util.Collections.sort(hashes)
      val m = math.min(k, hashes.size)
      val out = new Array[AnyRef](m)
      var j = 0
      while (j < m) { out(j) = UTF8String.fromString(hashes.get(j)); j += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Portable 60-bit hash of each distinct word n-gram: the first 15 hex
    * chars of the gram's MD5, parsed as a long. Same shingling as
    * [[WordShingleHashes]] (tokenize once, LinkedHashSet-distinct), but
    * the hash is reproducible in ANY engine — md5 + hex prefix + integer
    * parse — which is what lets DuckDB rebuild the entire
    * MinHash/LSH/Jaccard pipeline for the correctness gate (xxhash64's
    * seed/spec is Spark-internal). 60 bits stays positive in a signed
    * 64-bit int in every engine. Production deployments that don't need
    * an external oracle swap back to [[WordShingleHashes]] in one line —
    * every downstream shape (signature, banding, caps, verify) is
    * hash-agnostic. */
  case class WordShinglePortableHashes(child: Expression, n: Int)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shinglePortExpr", this, classOf[WordShinglePortableHashes].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($v);")
    }

    @transient private lazy val md5 =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    override def nullSafeEval(v: Any): Any = {
      // UTF8String.trim/toLowerCase — Spark's own trim/lower semantics
      // (see WordShingleHashes for why Java String's versions diverge)
      val toks = v.asInstanceOf[UTF8String].trim.toLowerCase.toString
        .split("\\s+", -1)
      val count = math.max(toks.length - n, 0) + 1
      val seen = new java.util.LinkedHashSet[String](count * 2)
      var i = 0
      while (i < count) {
        val end = math.min(i + n, toks.length)
        seen.add(String.join(" ", java.util.Arrays.asList(toks.slice(i, end): _*)))
        i += 1
      }
      val digest = md5.get()
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) {
        digest.reset()
        val d = digest.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 15 hex chars = high 60 bits of the digest, big-endian —
        // identical to CAST(concat('0x', substr(md5(g),1,15)) AS BIGINT)
        var h = 0L
        var b = 0
        while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        h = (h << 4) | ((d(7) >> 4) & 0xfL)
        out(j) = h
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Portable 60-bit SimHash over a token MULTISET: per-bit majority
    * vote of each token's md5-prefix hash (15 hex chars = 60 bits, the
    * same engine-portable construction as [[WordShinglePortableHashes]]).
    * 4×15-bit pigeonhole bands preserve the hamming ≤ 3 guarantee.
    * Repeated tokens vote repeatedly — SimHash weighs by term frequency
    * (that's what distinguishes it from a set sketch). */
  case class SimHashPortable(child: Expression)
      extends UnaryExpression {

    override def dataType: DataType = LongType

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("simhashPortExpr", this, classOf[SimHashPortable].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = ((java.lang.Long) $ref.nullSafeEval($v)).longValue();")
    }

    @transient private lazy val md5 =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val counts = new Array[Int](60)
      val digest = md5.get()
      val n = arr.numElements()
      var t = 0
      while (t < n) {
        digest.reset()
        val d = digest.digest(
          arr.getUTF8String(t).toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var b = 0
        while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        h = (h << 4) | ((d(7) >> 4) & 0xfL)
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
    * interpreted lambdas are the 100× scan-path trap — see
    * [[TopTokenShare]]'s 60 s → 0.44 s history). */
  case class QualitySignals(child: Expression)
      extends UnaryExpression {

    override def dataType: DataType = StructType(Seq(
      StructField("punct_ratio", DoubleType, nullable = false),
      StructField("stopword_ratio", DoubleType, nullable = false),
      StructField("avg_token_len", DoubleType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("quality", DoubleType, nullable = false)))

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("qualityExpr", this, classOf[QualitySignals].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($v);")
    }

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

    // Java regex \s = [ \t\n\x0B\f\r] (ASCII-only), matching Spark's
    // regexp_replace(trim(text), "\\s", "")
    private def isWs(cp: Int): Boolean =
      cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'

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
      // Spark's trim() strips ASCII space only (UTF8String.trim) — NOT
      // Java String.trim (which also strips \t, \n, ...)
      val trimmed = u.trim
      val trimmedStr = trimmed.toString
      var nonWs = 0
      i = 0
      while (i < trimmedStr.length) {
        val cp = trimmedStr.codePointAt(i)
        if (!isWs(cp)) nonWs += 1
        i += Character.charCount(cp)
      }
      // UTF8String.toLowerCase = Spark's lower(): locale-independent
      // (Java String.toLowerCase follows the JVM locale — Turkish 'I')
      val toks = trimmed.toLowerCase.toString.split("\\s+", -1)
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
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
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
  case class TokenStats(child: Expression)
      extends UnaryExpression {

    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("n_bpe_tokens", LongType, nullable = false),
      StructField("avg_token_len", DoubleType, nullable = false)))

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tokenStatsExpr", this, classOf[TokenStats].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($v);")
    }

    // Java regex \s = [ \t\n\x0B\f\r] (ASCII-only) — the class the split
    // and extract_all patterns above actually use
    private def isWs(cp: Int): Boolean =
      cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'

    override def nullSafeEval(v: Any): Any = {
      val u = v.asInstanceOf[UTF8String]
      // Spark's trim() strips ASCII space only (UTF8String.trim), and
      // lower() is locale-independent (UTF8String.toLowerCase) — Java
      // String.trim/toLowerCase silently diverge (\t-stripping, Turkish I)
      val trimmed = u.trim
      // avg_token_len's numerator counts non-ws codepoints of the
      // TRIMMED original (the Column form regex_replaces trim(text),
      // not the lowered string — toLowerCase can change codepoint count)
      val tstr = trimmed.toString
      var nonWs = 0L
      var i = 0
      while (i < tstr.length) {
        val cp = tstr.codePointAt(i)
        if (!isWs(cp)) nonWs += 1
        i += Character.charCount(cp)
      }
      // one pass over the lowered string: \s+ run count (≡ split
      // boundaries) and the BPE-ish state machine
      val lstr = trimmed.toLowerCase.toString
      var wsRuns = 0L
      var bpe = 0L
      var prev = -1 // 0 = ws, 1 = letter run, 2 = digit run, 3 = other
      i = 0
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
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
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
      extends UnaryExpression {

    override def dataType: DataType = StructType(Seq(
      StructField("n_emails", LongType, nullable = false),
      StructField("n_phones", LongType, nullable = false),
      StructField("len_raw", LongType, nullable = false),
      StructField("len_redacted", LongType, nullable = false)))

    @transient private lazy val emailP = java.util.regex.Pattern.compile(emailRe)
    @transient private lazy val phoneP = java.util.regex.Pattern.compile(phoneRe)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("piiExpr", this, classOf[PiiRedactionStats].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($v);")
    }

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
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
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
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

    override def dataType: DataType = LongType

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("coveredExpr", this, classOf[CoveredTokenCount].getName)
      nullSafeCodeGen(ctx, ev, (p, n) =>
        s"${ev.value} = ((java.lang.Long) $ref.nullSafeEval($p, $n)).longValue();")
    }

    override def nullSafeEval(posv: Any, ntok: Any): Any = {
      val arr = posv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
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
    *   top_token_ratio = maxCount/max(n, 1)   (≡ [[TopTokenShare]])
    *
    * The per-signal spelling walked the text three times (two splits +
    * an array_distinct allocation per row just to count unique tokens);
    * the hash map already knows both the distinct count (its size) and
    * the top count (its max). */
  case class RepetitionStats(child: Expression)
      extends UnaryExpression {

    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("dup_token_ratio", DoubleType, nullable = false),
      StructField("top_token_ratio", DoubleType, nullable = false)))

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("repStatsExpr", this, classOf[RepetitionStats].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($v);")
    }

    override def nullSafeEval(v: Any): Any = {
      // UTF8String.trim/toLowerCase — Spark's own trim (ASCII space) and
      // locale-independent lower, matching the Column forms exactly
      val toks = v.asInstanceOf[UTF8String].trim.toLowerCase.toString
        .split("\\s+", -1)
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
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n,
          1.0 - counts.size.toDouble / denom,
          max.toDouble / denom))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Frequency share of the most common token: tokenize once, count in
    * a hash map, return max/n. The Column-HOF formulation (fold over the
    * sorted array with element_at) evaluates its lambda interpreted per
    * element — measured 60 s for 5k docs at sf0.1 vs sub-second here. */
  case class TopTokenShare(child: Expression)
      extends UnaryExpression {

    override def dataType: DataType = DoubleType

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("topTokenExpr", this, classOf[TopTokenShare].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = ((java.lang.Double) $ref.nullSafeEval($v)).doubleValue();")
    }

    override def nullSafeEval(v: Any): Any = {
      // UTF8String.trim/toLowerCase: Spark's own trim() (ASCII space
      // only) and lower() (locale-independent) semantics — Java
      // String.trim also strips \t/\n, and String.toLowerCase follows
      // the JVM default locale (Turkish 'I'→'ı'), either of which
      // silently diverges from the Column forms and DuckDB oracles
      val toks = v.asInstanceOf[UTF8String].trim.toLowerCase.toString
        .split("\\s+", -1)
      val counts = new java.util.HashMap[String, Int](toks.length * 2)
      var max = 0
      var i = 0
      while (i < toks.length) {
        val c = counts.merge(toks(i), 1, (a, b) => a + b)
        if (c > max) max = c
        i += 1
      }
      max.toDouble / math.max(toks.length, 1)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Heuristic language ID in one tokenization pass: per-language
    * stopword hit counts, argmax with the same tie-break as
    * `greatest(struct(score, lang))` in [[TextFunctions.langId]] —
    * equal scores → lexicographically larger language code wins. */
  case class LangId(child: Expression)
      extends UnaryExpression {

    override def dataType: DataType = StringType

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("langIdExpr", this, classOf[LangId].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.nullSafeEval($v);")
    }

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
      // UTF8String.trim/toLowerCase: Spark's own trim() (ASCII space
      // only) and lower() (locale-independent) semantics — Java
      // String.trim also strips \t/\n, and String.toLowerCase follows
      // the JVM default locale (Turkish 'I'→'ı'), either of which
      // silently diverges from the Column forms and DuckDB oracles
      val toks = v.asInstanceOf[UTF8String].trim.toLowerCase.toString
        .split("\\s+", -1)
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

  /** 64-bit SimHash of a token array: per-bit majority vote over each
    * token's 128-bit (2×Murmur3) hash. Bit-identical to the previous
    * UDF formulation (same MurmurHash3 seeds), but a native expression:
    * no UDF serialization boundary, stays inside whole-stage codegen. */
  case class SimHash64(child: Expression)
      extends UnaryExpression {

    override def dataType: DataType = LongType

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val counts = new Array[Int](64)
      val n = arr.numElements()
      var t = 0
      while (t < n) {
        val tok = arr.getUTF8String(t).toString
        val h1 = scala.util.hashing.MurmurHash3.stringHash(tok, 0x9747b28c)
        val h2 = scala.util.hashing.MurmurHash3.stringHash(tok, 0x85ebca6b)
        val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
        var i = 0
        while (i < 64) { counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
        t += 1
      }
      var out = 0L
      var i = 0
      while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
      out
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("simhashExpr", this, classOf[SimHash64].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = ((java.lang.Long) $ref.nullSafeEval($v)).longValue();")
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
  case class WinnowedPositional(child: Expression, n: Int, w: Int)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))), containsNull = false)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("winnowExpr", this, classOf[WinnowedPositional].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($v);")
    }

    @transient private lazy val md5 =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    /** First 60 bits of md5 as a non-negative long — identical to
      * DuckDB's CAST(concat('0x', substr(md5(g),1,15)) AS BIGINT). */
    private def h60(gram: String): Long = {
      val d = md5.get(); d.reset()
      val b = d.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars = 7 full bytes + the high nibble of byte 8
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
      (v << 4) | ((b(7) >> 4) & 0xfL)
    }

    override def nullSafeEval(v: Any): Any = {
      // UTF8String.trim/toLowerCase — Spark's trim/lower semantics
      // (WordShingleHashes documents the Java String divergence)
      val toks = v.asInstanceOf[UTF8String].trim.toLowerCase.toString
        .split("\\s+", -1)
      val m = math.max(toks.length - n, 0) + 1
      val grams = new Array[String](m)
      val hs = new Array[Long](m)
      var i = 0
      while (i < m) {
        val end = math.min(i + n, toks.length)
        grams(i) = String.join(" ", java.util.Arrays.asList(toks.slice(i, end): _*))
        hs(i) = h60(grams(i))
        i += 1
      }
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
        out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](p, UTF8String.fromString(grams(p))))
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
    * mass). Same UTF8String trim/lower semantics as the shingle
    * kernels (ASCII-space trim, locale-independent lower — Java
    * String.trim/toLowerCase would silently diverge). Empty text
    * yields the [""] token exactly like the split chain; callers keep
    * their length>0 filters.
    *
    * Precondition: the row key the caller keeps beside the counts (the
    * corpus's `doc_id`) must be unique. The counts are per row, so two
    * rows with one `doc_id` give two (doc, token) rows where the
    * groupBy chain gave one summed row. */
  case class TokenCounts(child: Expression) extends UnaryExpression {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("token", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tokenCountsExpr", this, classOf[TokenCounts].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($v);")
    }

    override def nullSafeEval(v: Any): Any = {
      val toks = v.asInstanceOf[UTF8String].trim.toLowerCase.toString
        .split("\\s+", -1)
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
        out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
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
  case class BigramCounts(child: Expression) extends UnaryExpression {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false),
      StructField("m", LongType, nullable = false))), containsNull = false)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bigramCountsExpr", this, classOf[BigramCounts].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($v);")
    }

    override def nullSafeEval(v: Any): Any = {
      val toks = v.asInstanceOf[UTF8String].trim.toLowerCase.toString
        .split("\\s+", -1)
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
        out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
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

  def wordShingleHashes(text: Column, n: Int): Column =
    column(WordShingleHashes(expression(text), n))

  def wordShingleStrings(text: Column, n: Int): Column =
    column(WordShingleStrings(expression(text), n))

  def wordShinglePortableHashes(text: Column, n: Int): Column =
    column(WordShinglePortableHashes(expression(text), n))

  def wordShinglePositional(text: Column, n: Int): Column =
    column(WordShinglePositional(expression(text), n))

  def winnowedPositional(text: Column, n: Int, w: Int): Column =
    column(WinnowedPositional(expression(text), n, w))

  def simHashPortable(tokens: Column): Column =
    column(SimHashPortable(expression(tokens)))

  def topTokenShare(text: Column): Column = column(TopTokenShare(expression(text)))

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

  def simHash64(tokens: Column): Column = column(SimHash64(expression(tokens)))
}
