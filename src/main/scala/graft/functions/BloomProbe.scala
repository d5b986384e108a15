package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Compiled Bloom-filter membership probe.
  *
  * Spark ships a native `bloom_filter_agg`/`might_contain` expression
  * pair, but it lives in the INTERNAL function registry (used by the
  * runtime-filter optimizer rule) and is not resolvable from the public
  * API in Spark 4.1 — `expr("bloom_filter_agg(...)")` throws
  * UNRESOLVED_ROUTINE. This expression fills that gap in house style
  * (same shape as [[TextExpressions]]): the serialized filter rides the
  * plan as a reference object (shipped once per task binary, exactly
  * like a broadcast closure), is deserialized once per executor via a
  * transient lazy, and the probe runs inside whole-stage codegen — the
  * hosting Project is never evicted the way a Scala UDF evicts it.
  *
  * Byte-compatibility: `DataFrameStatFunctions.bloomFilter` on a string
  * column inserts UTF-8 bytes (`putBinary`/`putString` are defined to
  * hash identically in Spark's sketch library), so probing with the
  * row's `UTF8String` bytes observes the exact same hash stream — no
  * false NEGATIVES, the property the exactness anti-join relies on.
  */
object BloomProbe {

  case class BloomMightContain(child: Expression, bits: Array[Byte])
      extends UnaryCallback {

    override def dataType: DataType = BooleanType

    /** One filter instance per executor (deserialization is not free;
      * the probe is ~two xxhash calls + word reads). */
    @transient private lazy val filter: BloomFilter =
      BloomFilter.readFrom(new java.io.ByteArrayInputStream(bits))

    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String]
      java.lang.Boolean.valueOf(filter.mightContainBinary(s.getBytes))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  import org.apache.spark.sql.graftshim.{toColumn => column, toExpression => expression}

  /** `might_contain(filter, text)` as a codegen Column; null text →
    * null (standard unary null semantics — callers wanting the UDF-era
    * "null is never blocked" behavior coalesce to false). */
  def bloomMightContain(filter: BloomFilter, text: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    column(BloomMightContain(expression(text), bos.toByteArray))
  }
}
