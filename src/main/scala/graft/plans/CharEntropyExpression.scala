package graft.plans

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Fused per-document character-frequency entropy state — ONE pass
  * over the string instead of the relational per-CHARACTER explode +
  * two hash aggregates (q182's hot path: the explode multiplies the
  * row count by average document length).
  *
  * Emits the EXACT same micro-nat state the relational bridge
  * computes (the test-scope `RelevanceTwins.charEntropy`): per distinct
  * code point c with count k, the term is
  * `k · round(ln(k/n), 6)` accumulated in exact micro-nat LONGS
  * (`BigDecimal.valueOf(double).setScale(6, HALF_UP)` — bit-identical
  * to Catalyst's `round(double, 6)`), so the downstream half-up
  * division and the q182 oracle are unchanged. Characters iterate by
  * Unicode code point, matching `split(text, "")`'s regex semantics.
  *
  * Returns `struct(n_chars LONG, n_distinct LONG, su LONG)` where
  * `su = −Σ terms · 10⁶ ≥ 0`; null input → null.
  */
case class CharEntropyState(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("nd", LongType, nullable = false),
    StructField("su", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "char_entropy_state"

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1
      n += 1L
    }
    var sMicro = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val k = it.next()(0)
      val ln = math.log(k.toDouble / n)
      val r6 = JBigDecimal.valueOf(ln)
        .setScale(6, RoundingMode.HALF_UP)
        .movePointRight(6).longValueExact()
      sMicro += k * r6
    }
    new GenericInternalRow(
      Array[Any](n, counts.size.toLong, -sMicro)): InternalRow
  }

  override protected def withNewChildInternal(
      newChild: Expression): CharEntropyState = copy(child = newChild)
}

object CharEntropyExpressions {
  /** Fused char-frequency entropy state over a text column. */
  def charEntropyState(text: Column): Column =
    Bridge.column(CharEntropyState(Bridge.expression(text)))
}
