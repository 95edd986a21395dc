package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Top-level integer field extraction from a JSON document — the
  * codegen'd fast path for the `{"k": 76}`-shaped property blobs that
  * event pipelines parse by the billion. `from_json` is a
  * CodegenFallback expression: each row pays an interpreted-eval
  * boundary, a general Jackson tokenization, and an InternalRow
  * allocation just to lift one integer out; this expression is a
  * single allocation-free structural scan over the UTF-8 bytes living
  * inside the generated code (the generated code calls a static
  * helper on the companion object) — measured against the from_json twin at 32× scale in BASELINE.md
  * round 4.
  *
  * Semantics (the expression's OWN contract, pinned against
  * `from_json(_, "k LONG")` in JsonExpressionSpec):
  *  - returns the value of the `key` field of the TOP-LEVEL object when
  *    that value is a JSON integer in long range (Long.MinValue
  *    included); null otherwise (missing key, nested-only occurrences,
  *    float/string/bool/null values, long overflow, malformed or
  *    truncated document).
  *  - string values and keys are skipped with full escape handling, so
  *    a `"k"` inside another string value never false-matches; nested
  *    objects/arrays are skipped by depth, so only depth-1 keys match;
  *    duplicate keys resolve last-PARSEABLE-wins, matching Jackson
  *    with Spark's partial-result recovery (a later duplicate that
  *    fails integer conversion does not erase an earlier good value).
  *  - documented divergences from `from_json` (both irrelevant to
  *    well-formed data): bytes TRAILING the complete top-level object
  *    are not rejected; and the key is matched against its literal
  *    encoded bytes (an escape-encoded key like `"k"` does not
  *    match `k`).
  */
case class JsonGetLong(child: Expression, key: String)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "json_get_long"

  private lazy val keyUtf8 = UTF8String.fromString(key)

  override def nullSafeEval(v: Any): Any =
    JsonGetLong.extract(v.asInstanceOf[UTF8String], keyUtf8)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("jsonKey", keyUtf8,
      "org.apache.spark.unsafe.types.UTF8String")
    val r = ctx.freshName("jsonLong")
    nullSafeCodeGen(ctx, ev, c => s"""
      |java.lang.Long $r =
      |  graft.plans.JsonGetLong$$.MODULE$$.extract($c, $keyRef);
      |if ($r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = $r.longValue(); }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): JsonGetLong = copy(child = newChild)
}

object JsonGetLong {

  /** Structural scan; null on anything that is not a top-level integer
    * field (see class scaladoc). Operates on the UTF8String's bytes in
    * place — no copy, no parser object. Multibyte UTF-8 sequences all
    * have the high bit set, so they can never collide with the ASCII
    * structural bytes this scan dispatches on.
    *
    * The scan walks the WHOLE top-level object (to its closing brace)
    * rather than returning at the first key hit: JSON duplicate keys
    * resolve last-wins in Jackson/from_json, and a truncated document
    * (`{"k": 5` with no `}`) must read as malformed, not as 5 — both
    * were silent parity breaks of an early-exit version. */
  def extract(json: UTF8String, key: UTF8String): java.lang.Long = {
    val n = json.numBytes
    var i = skipWs(json, 0, n)
    if (i >= n || json.getByte(i) != '{') return null
    i = skipWs(json, i + 1, n)
    var found: java.lang.Long = null
    if (i < n && json.getByte(i) == '}') return null // {}: key absent
    while (i < n) {
      if (json.getByte(i) != '"') return null
      val keyStart = i + 1
      i = skipString(json, i, n)
      if (i < 0) return null
      val matched = sliceEquals(json, keyStart, i - 1, key)
      i = skipWs(json, i, n)
      if (i >= n || json.getByte(i) != ':') return null
      i = skipWs(json, i + 1, n)
      if (i >= n) return null
      if (matched) {
        // last PARSEABLE-integer occurrence wins: Jackson's partial-
        // result recovery (PERMISSIVE from_json) keeps an earlier good
        // value when a later duplicate fails conversion, so a plain
        // last-wins overwrite would null where from_json returns the
        // earlier value (pinned in JsonExpressionSpec)
        val v = parseLong(json, i, n)
        if (v != null) found = v
      }
      i = skipValue(json, i, n)
      if (i < 0) return null
      i = skipWs(json, i, n)
      if (i >= n) return null // truncated before the closing brace
      json.getByte(i) match {
        case ',' => i = skipWs(json, i + 1, n)
        case '}' => return found // complete top-level object
        case _ => return null
      }
    }
    null
  }

  private def skipWs(s: UTF8String, from: Int, n: Int): Int = {
    var i = from
    while (i < n && (s.getByte(i) == ' ' || s.getByte(i) == '\t' ||
      s.getByte(i) == '\n' || s.getByte(i) == '\r')) i += 1
    i
  }

  /** From an opening quote: index just past the closing quote, -1 if
    * unterminated. Escapes skip two bytes — enough for structure even
    * though \\uXXXX is not decoded (we never materialize the string). */
  private def skipString(s: UTF8String, from: Int, n: Int): Int = {
    var i = from + 1
    while (i < n) {
      s.getByte(i) match {
        case '\\' => i += 2
        case '"' => return i + 1
        case _ => i += 1
      }
    }
    -1
  }

  private def sliceEquals(s: UTF8String, start: Int, end: Int,
                          key: UTF8String): Boolean = {
    if (end - start != key.numBytes) return false
    var i = 0
    while (i < key.numBytes) {
      if (s.getByte(start + i) != key.getByte(i)) return false
      i += 1
    }
    true
  }

  /** Skip one JSON value (any type); index past it, -1 malformed. */
  private def skipValue(s: UTF8String, from: Int, n: Int): Int = {
    if (from >= n) return -1
    s.getByte(from) match {
      case '"' => skipString(s, from, n)
      case '{' | '[' =>
        var depth = 1
        var i = from + 1
        while (i < n && depth > 0) {
          s.getByte(i) match {
            case '"' =>
              i = skipString(s, i, n)
              if (i < 0) return -1
            case '{' | '[' => depth += 1; i += 1
            case '}' | ']' => depth -= 1; i += 1
            case _ => i += 1
          }
        }
        if (depth == 0) i else -1
      case 't' => expectWord(s, from, n, "true")
      case 'f' => expectWord(s, from, n, "false")
      case 'n' => expectWord(s, from, n, "null")
      case b if b == '-' || (b >= '0' && b <= '9') =>
        var i = from + 1
        while (i < n && isNumByte(s.getByte(i))) i += 1
        i
      case _ => -1
    }
  }

  private def isNumByte(b: Byte): Boolean =
    (b >= '0' && b <= '9') || b == '.' || b == 'e' || b == 'E' ||
      b == '+' || b == '-'

  private def expectWord(s: UTF8String, from: Int, n: Int,
                         w: String): Int = {
    if (from + w.length > n) return -1
    var i = 0
    while (i < w.length) {
      if (s.getByte(from + i) != w.charAt(i)) return -1
      i += 1
    }
    from + w.length
  }

  /** Parse a JSON integer terminated by ws/','/'}' — null for floats
    * (a '.'/'e' terminator), overflow, or a bare '-'. Accumulates
    * NEGATIVE so Long.MinValue (whose magnitude exceeds MaxValue)
    * parses exactly like from_json does. */
  private def parseLong(s: UTF8String, from: Int, n: Int)
      : java.lang.Long = {
    var i = from
    var neg = false
    if (i < n && s.getByte(i) == '-') { neg = true; i += 1 }
    if (i >= n || s.getByte(i) < '0' || s.getByte(i) > '9') return null
    var acc = 0L // negative accumulator
    while (i < n && s.getByte(i) >= '0' && s.getByte(i) <= '9') {
      val d = s.getByte(i) - '0'
      if (acc < (Long.MinValue + d) / 10) return null // overflow
      acc = acc * 10 - d
      i += 1
    }
    // an integer ends at ws, ',' or '}' — '.'/'e' means float → null
    if (i < n) {
      val b = s.getByte(i)
      val terminator = b == ' ' || b == '\t' || b == '\n' || b == '\r' ||
        b == ',' || b == '}'
      if (!terminator) return null
    }
    if (neg) acc
    else if (acc == Long.MinValue) null // +9223372036854775808 overflows
    else -acc
  }
}

object JsonFns {
  /** Column API for [[JsonGetLong]]. */
  def jsonGetLong(json: Column, key: String): Column =
    Bridge.column(JsonGetLong(Bridge.expression(json), key))
}
