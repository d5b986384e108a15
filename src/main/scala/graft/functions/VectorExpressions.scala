package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions (with codegen) for the vector hot paths:
  * dot products, hyperplane LSH signatures, and MinHash signatures.
  *
  * The higher-order-function formulations in [[Sketches]] (aggregate/
  * zip_with/transform) evaluate their lambdas interpreted, row by row —
  * fine for cold paths, dominant cost for O(k·dim) sketch math on every
  * row of a 100 TB corpus. These expressions compile to tight Java
  * loops inside whole-stage codegen (interpreted `eval` kept for
  * completeness/fallback), turning sketching back into a scan-speed map.
  */
object VectorExpressions {

  /** Bulk null-element test: on [[org.apache.spark.sql.catalyst.expressions.UnsafeArrayData]]
    * (every codegen-produced array) the null bitmap is a zeroed word
    * region directly after the 8-byte numElements header — OR-testing
    * whole words costs ONE load per 64 elements, where per-element
    * `isNullAt` in the cosine pair-join hot loop measured +25% on x109.
    * Trailing bits past numElements are guaranteed zero (the writer only
    * sets bits for nulls). Non-unsafe representations fall back to the
    * per-element walk. */
  def hasNullElement(x: ArrayData): Boolean = x match {
    case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
      val words = (u.numElements() + 63) >>> 6
      val base = u.getBaseObject
      val off = u.getBaseOffset
      var w = 0
      while (w < words) {
        if (org.apache.spark.unsafe.Platform.getLong(base, off + 8L + 8L * w) != 0L)
          return true
        w += 1
      }
      false
    case other =>
      val n = other.numElements()
      var i = 0
      while (i < n) { if (other.isNullAt(i)) return true; i += 1 }
      false
  }

  /** dot(a, b) over array<double> — codegen'd multiply-add loop. */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val s = ctx.freshName("sum")
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |double $s = 0.0;
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Fused cosine similarity over two numeric arrays — ONE compiled
    * pass replacing `dot(a,b) / (sqrt(dot(a,a)) · sqrt(dot(b,b)))`
    * built from three [[DotProduct]]s: the three accumulators run in
    * the same element order the separate dots used, then the identical
    * sqrt/mul/div sequence — bit-identical IEEE result, a third of the
    * element reads, and (the real win) NO per-evaluation `transform`
    * casts: long/float elements widen in-register ((double) getLong —
    * exactly Catalyst's Cast semantics), where the HOF form allocated
    * and boxed a fresh cast array per child per dot (6 interpreted
    * array walks per cosine — dominant cost of every pair join in the
    * similarity family, as the x109 profile showed).
    *
    * Like [[DotProduct]], aa/bb fold over their OWN lengths and ab over
    * min(na, nb) — the exact bounds the three-dot form used. */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    // fail analysis (not runtime garbage reads) on wrong-typed input —
    // each side must be an array of a supported numeric element.
    // containsNull=true is ACCEPTED: the driver parquet declares nullable
    // elements on every embedding column even though no element is ever
    // null, so rejecting the flag would fail analysis on valid data; a
    // null element instead reads as 0.0 (below), the value the unsafe
    // array representation already yields for a null slot.
    override def checkInputDataTypes(): TypeCheckResult = {
      def ok(dt: DataType): Boolean = dt match {
        case ArrayType(LongType | FloatType | IntegerType | DoubleType, _) => true
        case _ => false
      }
      if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"CosineSim requires array<long|float|int|double> inputs, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }

    private def elemType(e: Expression): DataType =
      e.dataType.asInstanceOf[ArrayType].elementType

    // null element ≡ 0.0 contribution (documented, deterministic — the
    // interpreted GenericArrayData path used to NPE where the unsafe
    // path read the zeroed slot; both now agree). Null handling is an
    // UPFRONT bitmap scan, not a per-read branch: the three accumulator
    // loops — the hottest code in every pair join — stay branch-free,
    // and the null-aware path only runs when a null element exists
    // (which the loader contract excludes).
    private def getD(x: ArrayData, t: DataType, i: Int): Double = t match {
      case LongType => x.getLong(i).toDouble
      case FloatType => x.getFloat(i).toDouble
      case IntegerType => x.getInt(i).toDouble
      case _ => x.getDouble(i)
    }

    private def getDN(x: ArrayData, t: DataType, i: Int): Double =
      if (x.isNullAt(i)) 0.0 else getD(x, t, i)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val (tx, ty) = (elemType(left), elemType(right))
      val na = x.numElements()
      val nb = y.numElements()
      val nab = math.min(na, nb)
      var ab = 0.0; var aa = 0.0; var bb = 0.0
      var i = 0
      if (hasNullElement(x) || hasNullElement(y)) {
        while (i < nab) { ab += getDN(x, tx, i) * getDN(y, ty, i); i += 1 }
        i = 0
        while (i < na) { val v = getDN(x, tx, i); aa += v * v; i += 1 }
        i = 0
        while (i < nb) { val v = getDN(y, ty, i); bb += v * v; i += 1 }
      } else {
        while (i < nab) { ab += getD(x, tx, i) * getD(y, ty, i); i += 1 }
        i = 0
        while (i < na) { val v = getD(x, tx, i); aa += v * v; i += 1 }
        i = 0
        while (i < nb) { val v = getD(y, ty, i); bb += v * v; i += 1 }
      }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }

    private def genGet(v: String, t: DataType, i: String): String = t match {
      case LongType => s"(double) $v.getLong($i)"
      case FloatType => s"(double) $v.getFloat($i)"
      case IntegerType => s"(double) $v.getInt($i)"
      case _ => s"$v.getDouble($i)"
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // null-aware slow path: one call back into nullSafeEval (as in
      // CallbackCodegen), only when a null element exists
      val ref = ctx.addReferenceObj("cosineExpr", this, classOf[CosineSim].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (tx, ty) = (elemType(left), elemType(right))
        val ab = ctx.freshName("ab"); val aa = ctx.freshName("aa")
        val bb = ctx.freshName("bb"); val i = ctx.freshName("i")
        val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val nab = ctx.freshName("nab"); val v = ctx.freshName("v")
        val hasNull = ctx.freshName("hasNull")
        s"""
           |int $na = $a.numElements();
           |int $nb = $b.numElements();
           |boolean $hasNull =
           |  graft.functions.VectorExpressions.hasNullElement($a) ||
           |  graft.functions.VectorExpressions.hasNullElement($b);
           |if ($hasNull) {
           |  ${ev.value} = ((Double) $ref.nullSafeEval($a, $b)).doubleValue();
           |} else {
           |  double $ab = 0.0; double $aa = 0.0; double $bb = 0.0;
           |  int $nab = java.lang.Math.min($na, $nb);
           |  for (int $i = 0; $i < $nab; $i++) {
           |    $ab += ${genGet(a, tx, i)} * ${genGet(b, ty, i)};
           |  }
           |  for (int $i = 0; $i < $na; $i++) {
           |    double $v = ${genGet(a, tx, i)};
           |    $aa += $v * $v;
           |  }
           |  for (int $i = 0; $i < $nb; $i++) {
           |    double $v = ${genGet(b, ty, i)};
           |    $bb += $v * $v;
           |  }
           |  ${ev.value} = $ab / (java.lang.Math.sqrt($aa) * java.lang.Math.sqrt($bb));
           |}
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Integer quantization of a float/double vector at a constant scale:
    * elementwise `(long) Math.floor(((double) x) * scale)` — exactly
    * `floor(cast(x as double) * scale).cast("long")` (Spark's Floor on
    * DoubleType is Math.floor then toLong; float→double widening is the
    * Cast). Replaces the nested `transform(transform(cast), floor)`
    * HOF pair that ran interpreted (two boxed array allocations per
    * row) on the corpus scan of every IVF/SemDeDup query. */
  case class QuantizeLong(child: Expression, scale: Double)
      extends UnaryExpression {

    // containsNull mirrors the input: a null element
    // PROPAGATES like the transform(cast)+floor HOF chain this replaces —
    // never silently quantized to 0. The driver parquet declares nullable
    // elements (though none are null in the data), so output metadata
    // follows the child rather than rejecting the flag at analysis.
    override def dataType: DataType = ArrayType(LongType,
      containsNull = child.dataType match {
        case ArrayType(_, cn) => cn
        case _ => true
      })

    // wrong-typed input (e.g. array<long>) must fail analysis, not read
    // garbage via getDouble at runtime.
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"QuantizeLong requires array<float|double> input, got ${other.catalogString}")
    }

    private lazy val elemIsFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val n = x.numElements()
      val anyNull = hasNullElement(x)
      var i = 0
      if (!anyNull) {
        val out = new Array[Long](n)
        i = 0
        while (i < n) {
          val d = if (elemIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
          out(i) = math.floor(d * scale).toLong
          i += 1
        }
        new GenericArrayData(out)
      } else {
        // null-propagating (boxed) path — only taken when a null element
        // actually exists, which the loader contract excludes
        val out = new Array[Any](n)
        i = 0
        while (i < n) {
          if (!x.isNullAt(i)) {
            val d = if (elemIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
            out(i) = math.floor(d * scale).toLong
          }
          i += 1
        }
        new GenericArrayData(out)
      }
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // splice the scale constant via a bit-exact longBitsToDouble
      // round-trip — `$scale` interpolation would emit
      // uncompilable Java for NaN/Infinity scales
      val scaleJ =
        s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(scale)}L)"
      val ref = ctx.addReferenceObj("quantizeExpr", this, classOf[QuantizeLong].getName)
      nullSafeCodeGen(ctx, ev, v => {
        val get = if (elemIsFloat) s"(double) $v.getFloat" else s"$v.getDouble"
        val out = ctx.freshName("out")
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val anyNull = ctx.freshName("anyNull")
        s"""
           |int $n = $v.numElements();
           |boolean $anyNull = graft.functions.VectorExpressions.hasNullElement($v);
           |if (!$anyNull) {
           |  long[] $out = new long[$n];
           |  for (int $i = 0; $i < $n; $i++) {
           |    $out[$i] = (long) java.lang.Math.floor($get($i) * $scaleJ);
           |  }
           |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           |} else {
           |  ${ev.value} =
           |    (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($v);
           |}
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Exact Jaccard similarity of two array<long> columns in ONE pass —
    * value-identical to
    * `size(array_intersect(a,b)).cast(double) /
    *  greatest(size(array_union(a,b)), 1).cast(double)`
    * (distinct-set semantics, so duplicate elements count once), but
    * with open-addressing primitive long sets instead of two boxed
    * set builds PLUS materializing the intersection/union arrays that
    * only ever feed `size` — the per-pair cost of every jaccard verify
    * join in the near-dup family (the x03 profile). Long-array inputs
    * only (the shingle-hash frames); arrays must not contain null
    * elements, which holds for every hash-derived array in the tree. */
  case class JaccardLongSize(left: Expression, right: Expression)
      extends BinaryCallback {

    override def dataType: DataType = DoubleType

    // long-array inputs only — anything else (e.g. the public
    // Sketches.jaccardLong reached with array<string>) fails analysis
    // instead of reading garbage through getLong. containsNull=true is
    // accepted (parquet metadata declares it even on never-null data); a
    // null element reads as 0L — the unsafe representation's slot value —
    // via the explicit isNullAt below, so interpreted and codegen paths
    // agree deterministically.
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"JaccardLongSize requires array<long> inputs, got " +
            s"${l.catalogString} and ${r.catalogString}")
      }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      def get(z: ArrayData, i: Int): Long = if (z.isNullAt(i)) 0L else z.getLong(i)
      val na = x.numElements()
      val nb = y.numElements()
      // open-addressing set of a's elements
      var cap = 8
      while (cap < (na + 1) * 2) cap <<= 1
      val maskA = cap - 1
      val tblA = new Array[Long](cap)
      val usedA = new Array[Boolean](cap)
      var da = 0
      var i = 0
      while (i < na) {
        val v = get(x, i)
        var p = (java.lang.Long.hashCode(v) & Int.MaxValue) & maskA
        while (usedA(p) && tblA(p) != v) p = (p + 1) & maskA
        if (!usedA(p)) { usedA(p) = true; tblA(p) = v; da += 1 }
        i += 1
      }
      // walk b's distinct elements, counting hits in a
      var capB = 8
      while (capB < (nb + 1) * 2) capB <<= 1
      val maskB = capB - 1
      val tblB = new Array[Long](capB)
      val usedB = new Array[Boolean](capB)
      var db = 0
      var inter = 0
      i = 0
      while (i < nb) {
        val v = get(y, i)
        var p = (java.lang.Long.hashCode(v) & Int.MaxValue) & maskB
        while (usedB(p) && tblB(p) != v) p = (p + 1) & maskB
        if (!usedB(p)) {
          usedB(p) = true; tblB(p) = v; db += 1
          var q = (java.lang.Long.hashCode(v) & Int.MaxValue) & maskA
          while (usedA(q) && tblA(q) != v) q = (q + 1) & maskA
          if (usedA(q)) inter += 1
        }
        i += 1
      }
      val union = da + db - inter
      inter.toDouble / math.max(union, 1).toDouble
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Portable 60-bit MD5-prefix hash of a string — value-identical to
    * `CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)` (the first
    * 15 hex chars of the digest parsed base-16 ≡ the first 8 digest
    * bytes big-endian, unsigned-shifted right 4), but computed straight
    * from the digest bytes: the SQL chain hex-encodes a 32-char string,
    * substrings it, and re-parses it through conv's string arithmetic
    * PER EVALUATION — measurable on the per-gram hash paths (x115 spans,
    * x76 KMV). The DuckDB oracles keep the spelled-out SQL chain, which
    * is exactly why the value equivalence is spec-asserted. */
  case class Md5Prefix60(child: Expression) extends UnaryCallback {

    override def dataType: DataType = LongType

    // string input only — a non-string child would
    // ClassCastException opaquely at runtime; fail analysis instead.
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"Md5Prefix60 requires a string input, got ${other.catalogString}")
    }

    override def nullSafeEval(v: Any): Any =
      Md5Prefix60.hash(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The one MD5 of the compiled kernels: a digest per thread, and the
    * 60-bit prefix every portable gram and token hash is made of. */
  object Md5Prefix60 {

    private val digest = ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

    /** The 16-byte MD5 of `bytes`. */
    def md5(bytes: Array[Byte]): Array[Byte] = digest.get().digest(bytes)

    /** The first 15 hex chars of `md5(bytes)` as a non-negative long: the
      * first 8 digest bytes big-endian, shifted right 4. */
    def hash(bytes: Array[Byte]): Long = {
      val d = md5(bytes)
      var l = 0L
      var i = 0
      while (i < 8) { l = (l << 8) | (d(i) & 0xffL); i += 1 }
      l >>> 4
    }
  }

  /** Sign bits of <v, plane_b> for `nBits` constant hyperplanes
    * (flattened row-major into `planes`). Output: array<int> of 0/1. */
  case class HyperplaneSignBits(child: Expression, planes: Array[Double],
                                nBits: Int, dim: Int)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    override def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val out = new Array[Int](nBits)
      var b = 0
      while (b < nBits) {
        var s = 0.0
        var i = 0
        while (i < dim) { s += x.getDouble(i) * planes(b * dim + i); i += 1 }
        out(b) = if (s > 0) 1 else 0
        b += 1
      }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
      nullSafeCodeGen(ctx, ev, v => {
        val out = ctx.freshName("bits")
        val s = ctx.freshName("s")
        val b = ctx.freshName("b")
        val i = ctx.freshName("i")
        s"""
           |int[] $out = new int[$nBits];
           |for (int $b = 0; $b < $nBits; $b++) {
           |  double $s = 0.0;
           |  for (int $i = 0; $i < $dim; $i++) {
           |    $s += $v.getDouble($i) * $planesRef[$b * $dim + $i];
           |  }
           |  $out[$b] = $s > 0 ? 1 : 0;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })

    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Top-w coarse probe of the x128 hierarchical assignment: `left` is
    * the quantized vector (array<long>), `right` the broadcast seed
    * array (array<struct<ccl: long, cc: array<long>>>), and the result
    * the w seed ids ordered by (cosine DESC, ccl ASC) — the exact
    * window/ROW_NUMBER tie-break both engines replay. One compiled
    * loop per row replaces BOTH an N·ncoarse window exchange and an
    * interpreted transform+array_sort HOF pair (which measured SLOWER
    * at sf0.1 because Spark evaluates HOF lambdas interpreted).
    *
    * Cosine arithmetic replicates `cosine(asDouble(a), asDouble(b))`
    * IEEE-exactly: ascending-index multiply-add folds (dot over the
    * shorter length, norms over each full array), then
    * dot / (sqrt(na) · sqrt(nb)) in that association. */
  case class CoarseTopW(left: Expression, right: Expression, w: Int)
      extends BinaryExpression {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(v: Any, s: Any): Any = {
      val vq = v.asInstanceOf[ArrayData]
      val seeds = s.asInstanceOf[ArrayData]
      val dim = vq.numElements()
      var na = 0.0
      var i = 0
      while (i < dim) { val x = vq.getLong(i).toDouble; na += x * x; i += 1 }
      val normA = math.sqrt(na)
      val n = seeds.numElements()
      val tc = Array.fill(w)(0.0)
      val tl = new Array[Long](w)
      var kept = 0
      var k = 0
      while (k < n) {
        val row = seeds.getStruct(k, 2)
        val ccl = row.getLong(0)
        val cc = row.getArray(1)
        val mb = cc.numElements()
        val m = math.min(dim, mb)
        var dotv = 0.0
        var nb = 0.0
        var j = 0
        while (j < m) { dotv += vq.getLong(j).toDouble * cc.getLong(j).toDouble; j += 1 }
        j = 0
        while (j < mb) { val x = cc.getLong(j).toDouble; nb += x * x; j += 1 }
        val cos = dotv / (normA * math.sqrt(nb))
        var pos = kept
        var q = 0
        var found = false
        while (q < kept && !found) {
          if (cos > tc(q) || (cos == tc(q) && ccl < tl(q))) { pos = q; found = true }
          q += 1
        }
        if (pos < w) {
          val last = if (kept < w) kept else w - 1
          var mm = last
          while (mm > pos) { tc(mm) = tc(mm - 1); tl(mm) = tl(mm - 1); mm -= 1 }
          tc(pos) = cos; tl(pos) = ccl
          if (kept < w) kept += 1
        }
        k += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(tl, kept))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, s) => {
        val dim = ctx.freshName("dim"); val na = ctx.freshName("na")
        val normA = ctx.freshName("normA"); val n = ctx.freshName("n")
        val tc = ctx.freshName("tc"); val tl = ctx.freshName("tl")
        val kept = ctx.freshName("kept"); val k = ctx.freshName("k")
        val row = ctx.freshName("row"); val ccl = ctx.freshName("ccl")
        val cc = ctx.freshName("cc"); val mb = ctx.freshName("mb")
        val m = ctx.freshName("m"); val dotv = ctx.freshName("dotv")
        val nb = ctx.freshName("nb"); val j = ctx.freshName("j")
        val cos = ctx.freshName("cos"); val pos = ctx.freshName("pos")
        val q = ctx.freshName("q"); val mm = ctx.freshName("mm")
        val last = ctx.freshName("last"); val x = ctx.freshName("x")
        s"""
           |int $dim = $v.numElements();
           |double $na = 0.0;
           |for (int $j = 0; $j < $dim; $j++) {
           |  double $x = (double) $v.getLong($j); $na += $x * $x;
           |}
           |double $normA = java.lang.Math.sqrt($na);
           |int $n = $s.numElements();
           |double[] $tc = new double[$w];
           |long[] $tl = new long[$w];
           |int $kept = 0;
           |for (int $k = 0; $k < $n; $k++) {
           |  org.apache.spark.sql.catalyst.InternalRow $row = $s.getStruct($k, 2);
           |  long $ccl = $row.getLong(0);
           |  org.apache.spark.sql.catalyst.util.ArrayData $cc = $row.getArray(1);
           |  int $mb = $cc.numElements();
           |  int $m = java.lang.Math.min($dim, $mb);
           |  double $dotv = 0.0; double $nb = 0.0;
           |  for (int $j = 0; $j < $m; $j++) {
           |    $dotv += (double) $v.getLong($j) * (double) $cc.getLong($j);
           |  }
           |  for (int $j = 0; $j < $mb; $j++) {
           |    double $x = (double) $cc.getLong($j); $nb += $x * $x;
           |  }
           |  double $cos = $dotv / ($normA * java.lang.Math.sqrt($nb));
           |  int $pos = $kept;
           |  for (int $q = 0; $q < $kept; $q++) {
           |    if ($cos > $tc[$q] || ($cos == $tc[$q] && $ccl < $tl[$q])) { $pos = $q; break; }
           |  }
           |  if ($pos < $w) {
           |    int $last = ($kept < $w) ? $kept : $w - 1;
           |    for (int $mm = $last; $mm > $pos; $mm--) {
           |      $tc[$mm] = $tc[$mm - 1]; $tl[$mm] = $tl[$mm - 1];
           |    }
           |    $tc[$pos] = $cos; $tl[$pos] = $ccl;
           |    if ($kept < $w) $kept++;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  java.util.Arrays.copyOf($tl, $kept));
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** k-slot MinHash signature of an array of 64-bit element hashes,
    * identical arithmetic to Sketches.minhashSignature: fold each
    * element to [0, P) then slot_j = min over elements of
    * (a_j·h' + b_j) mod P; empty input → Long.MaxValue per slot. */
  case class MinHashSignature(child: Expression, as: Array[Long], bs: Array[Long])
      extends UnaryExpression {

    private val P = 2147483647L
    private def k = as.length

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val n = x.numElements()
      val out = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val h = x.getLong(i)
        val f = ((h % P) + P) % P
        var j = 0
        while (j < k) {
          val c = (as(j) * f + bs(j)) % P
          if (c < out(j)) out(j) = c
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val asRef = ctx.addReferenceObj("as", as, "long[]")
      val bsRef = ctx.addReferenceObj("bs", bs, "long[]")
      nullSafeCodeGen(ctx, ev, v => {
        val out = ctx.freshName("sig")
        val n = ctx.freshName("n")
        val f = ctx.freshName("f")
        val c = ctx.freshName("c")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        s"""
           |long[] $out = new long[$k];
           |java.util.Arrays.fill($out, Long.MAX_VALUE);
           |int $n = $v.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  long $f = (($v.getLong($i) % ${P}L) + ${P}L) % ${P}L;
           |  for (int $j = 0; $j < $k; $j++) {
           |    long $c = ($asRef[$j] * $f + $bsRef[$j]) % ${P}L;
           |    if ($c < $out[$j]) $out[$j] = $c;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Widen PCM-u8 bytes to s16le sample data: per byte, sample
    * (b−128)·256, whose little-endian bytes are [0x00, b ^ 0x80] — the
    * standard offset-binary width conversion, exact inverse of the
    * decoder's (s >> 8) + 128 narrowing. One codegen byte loop; the
    * pure-column spelling (regexp over the hex expansion) allocated a
    * match object per byte pair and doubled the media family's bench
    * cost. Java arrays zero-initialize, so the low bytes are free. */
  case class U8ToS16Le(child: Expression) extends UnaryExpression {

    override def dataType: DataType = BinaryType

    override def nullSafeEval(v: Any): Any = {
      val in = v.asInstanceOf[Array[Byte]]
      val out = new Array[Byte](in.length * 2)
      var i = 0
      while (i < in.length) { out(2 * i + 1) = (in(i) ^ 0x80).toByte; i += 1 }
      out
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val i = ctx.freshName("i")
        val out = ctx.freshName("out")
        s"""
           |byte[] $out = new byte[$v.length * 2];
           |for (int $i = 0; $i < $v.length; $i++) {
           |  $out[2 * $i + 1] = (byte) ($v[$i] ^ 0x80);
           |}
           |${ev.value} = $out;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** max(|xᵢ|) over an array<long> — the per-row magnitude bound the
    * IVF exactness guard folds over the whole corpus. Bit-identical to
    * `aggregate(transform(v, abs), 0L, greatest)`, which evaluated its
    * lambdas interpreted — a full extra interpreted corpus walk inside
    * every guarded index query (x28/x114/x129/x133/x154). Empty array
    * → 0 (the HOF's fold seed). */
  case class MaxAbsLong(child: Expression) extends UnaryExpression {

    override def dataType: DataType = LongType

    override def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val n = x.numElements()
      var m = 0L
      var i = 0
      while (i < n) {
        val a = math.abs(x.getLong(i))
        if (a > m) m = a
        i += 1
      }
      m
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val m = ctx.freshName("m")
        val i = ctx.freshName("i")
        val a = ctx.freshName("a")
        val n = ctx.freshName("n")
        s"""
           |long $m = 0L;
           |int $n = $v.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  long $a = java.lang.Math.abs($v.getLong($i));
           |  if ($a > $m) $m = $a;
           |}
           |${ev.value} = $m;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** x110's int8 quantization audit in ONE compiled pass per row,
    * bit-identical to the HOF chain it replaces (same IEEE op order, so
    * the DuckDB oracle keeps hash-matching):
    *
    *   scale   = fold greatest(a, abs(xᵢ)) from 0.0
    *   qᵢ      = scale > 0 ? floor(xᵢ·127.0/scale + 0.5) : 0.0
    *             (floor on DoubleType is Math.floor then toLong; the
    *             when/otherwise coerces it back to double — value-equal
    *             to Math.floor for |q| ≤ 127)
    *   maxErr  = fold greatest(a, abs(xᵢ − qᵢ·scale/127.0)) from 0.0
    *   err_ppm = scale > 0 ? floor(maxErr·10⁶/scale) : 0
    *   n_saturated / n_deadzone = counts of |qᵢ| = 127 / qᵢ = 0
    *
    * The aggregate/transform/zip_with formulation evaluated its lambdas
    * INTERPRETED per element — five array walks through boxed lambda
    * calls per row (the scaladoc said "codegen array folds"; Spark HOFs
    * are not codegen'd — the Sketches-vs-VectorExpressions lesson,
    * re-found by x110's 20× reading at the 100× ScaleCheck volume).
    * Elements arrive as float (driver parquet) or double (the cast the
    * HOF form applied first): float→double widening is exact, so both
    * input shapes produce identical audits. */
  case class QuantAudit(child: Expression) extends UnaryCallback {

    override def dataType: DataType = StructType(Seq(
      StructField("scale", DoubleType, nullable = false),
      StructField("err_ppm_of_scale", LongType, nullable = false),
      StructField("n_saturated", LongType, nullable = false),
      StructField("n_deadzone", LongType, nullable = false)))

    private lazy val elemIsFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val n = x.numElements()
      def get(i: Int): Double =
        if (elemIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      var scale = 0.0
      var i = 0
      while (i < n) {
        val a = math.abs(get(i))
        if (a > scale) scale = a
        i += 1
      }
      var maxErr = 0.0
      var sat = 0L
      var dead = 0L
      i = 0
      while (i < n) {
        val xi = get(i)
        val q = if (scale > 0) math.floor(xi * 127.0 / scale + 0.5) else 0.0
        val err = math.abs(xi - q * scale / 127.0)
        if (err > maxErr) maxErr = err
        if (math.abs(q) == 127.0) sat += 1
        if (q == 0.0) dead += 1
        i += 1
      }
      val ppm = if (scale > 0) math.floor(maxErr * 1000000.0 / scale).toLong else 0L
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](scale, ppm, sat, dead))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Symmetric per-vector int8 quantization (the x110 audit's transform,
    * shipped as the SERVING representation for x155): qᵢ = scale > 0 ?
    * floor(xᵢ·127.0/scale + 0.5) : 0.0 with scale = max|x| — the exact
    * arithmetic [[QuantAudit]] audits, one compiled pass. Values are
    * integers ≤ 127 carried as doubles: dot products over them are
    * EXACT (≤ dim·127² ≪ 2⁵³), so downstream cosines are identical
    * IEEE arithmetic in any engine — the x28 quantized-index recipe
    * applied to the int8 rung. */
  case class Int8Quantize(child: Expression) extends UnaryCallback {

    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    private lazy val elemIsFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val n = x.numElements()
      def get(i: Int): Double =
        if (elemIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      var scale = 0.0
      var i = 0
      while (i < n) {
        val a = math.abs(get(i))
        if (a > scale) scale = a
        i += 1
      }
      val out = new Array[Double](n)
      i = 0
      while (i < n) {
        out(i) = if (scale > 0) math.floor(get(i) * 127.0 / scale + 0.5) else 0.0
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ---- Column wrappers -----------------------------------------------

  import org.apache.spark.sql.graftshim.{toColumn => column, toExpression => expression}

  def dotProduct(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  def quantizeLong(v: Column, scale: Double): Column =
    column(QuantizeLong(expression(v), scale))

  def jaccardLongSize(a: Column, b: Column): Column =
    column(JaccardLongSize(expression(a), expression(b)))

  def md5Prefix60(x: Column): Column = column(Md5Prefix60(expression(x)))

  def hyperplaneSignBits(v: Column, planes: Seq[Seq[Double]]): Column = {
    val dim = planes.head.size
    column(HyperplaneSignBits(expression(v), planes.flatten.toArray, planes.size, dim))
  }

  def minhashSignature(hashes: Column, as: Seq[Long], bs: Seq[Long]): Column =
    column(MinHashSignature(expression(hashes), as.toArray, bs.toArray))

  def coarseTopW(vq: Column, seeds: Column, w: Int): Column =
    column(CoarseTopW(expression(vq), expression(seeds), w))

  def u8ToS16Le(bytes: Column): Column =
    column(U8ToS16Le(expression(bytes)))

  def quantAudit(v: Column): Column = column(QuantAudit(expression(v)))

  def int8Quantize(v: Column): Column = column(Int8Quantize(expression(v)))

  def maxAbsLong(v: Column): Column = column(MaxAbsLong(expression(v)))
}
