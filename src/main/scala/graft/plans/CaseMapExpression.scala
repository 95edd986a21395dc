package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, String2StringExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `lower`/`upper` that maps an all-ASCII string itself and hands any
  * other string to Spark's own case mapping.
  *
  * Why: Spark 4.1's `Lower`/`Upper` reach `CollationAwareUTF8String`
  * (ICU case mappings are on by default), whose static initializer runs
  * ICU title-casing over all 1,114,112 code points — 1.8–2.2 s on the
  * first case-mapped row of a JVM, before its own ASCII fast path can
  * answer. Every Spark path (each collation, ICU mappings on or off)
  * returns `toLowerCaseAscii`/`toUpperCaseAscii` for a full-ASCII
  * input, so answering those here gives the same bytes and leaves that
  * class unloaded until a non-ASCII string is case-mapped. Other
  * strings go through `CollationSupport.Lower`/`Upper` with the
  * collation and `spark.sql.icu.caseMappings.enabled` value Spark's
  * expressions read, in both the interpreted and the generated path.
  * Implicit string cast, result type and null handling are
  * `String2StringExpression`'s, as for the builtins; the pretty name
  * is theirs too, so unaliased output columns keep their names. */
case class AsciiFirstCaseMap(child: Expression, upper: Boolean)
  extends UnaryExpression with String2StringExpression {

  private lazy val collationId =
    child.dataType.asInstanceOf[StringType].collationId
  private lazy val useICU =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullIntolerant: Boolean = true
  override def prettyName: String = if (upper) "upper" else "lower"

  override def convert(v: UTF8String): UTF8String =
    if (v.isFullAscii) {
      if (upper) v.toUpperCaseAscii else v.toLowerCaseAscii
    } else if (upper) CollationSupport.Upper.exec(v, collationId, useICU)
    else CollationSupport.Lower.exec(v, collationId, useICU)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => {
      val ascii = if (upper) "toUpperCaseAscii" else "toLowerCaseAscii"
      val other =
        if (upper) CollationSupport.Upper.genCode(c, collationId, useICU)
        else CollationSupport.Lower.genCode(c, collationId, useICU)
      s"($c.isFullAscii() ? $c.$ascii() : $other)"
    })

  override protected def withNewChildInternal(
      newChild: Expression): AsciiFirstCaseMap = copy(child = newChild)
}

object AsciiFirstCaseMap {
  def lower(c: Column): Column =
    Bridge.column(AsciiFirstCaseMap(Bridge.expression(c), upper = false))
  def upper(c: Column): Column =
    Bridge.column(AsciiFirstCaseMap(Bridge.expression(c), upper = true))
}
