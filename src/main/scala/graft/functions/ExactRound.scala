package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Half-up decimal rounding of integer ratios in EXACT LONG arithmetic.
  *
  * Why: `round(a/b, dp)` on the double quotient is engine-dependent
  * exactly when the true ratio terminates on a decimal tie (…5 at
  * dp+1) — and ratios of COUNTS land there for real denominators
  * (k/32 ends at the 5th decimal for every odd k; q88's micro-nat sum
  * hit the same class at sf0.1, with Spark's BigDecimal HALF_UP of the
  * nearest double giving 3.4063 while DuckDB gave 3.4064). Rounding the
  * scaled integer quotient instead — round(a/b) = (2a+b) div 2b for
  * a ≥ 0, b > 0 — is exact, engine-portable (Spark `div`, DuckDB `//`),
  * and stays inside whole-stage codegen (IntegralDivide).
  *
  * Preconditions: num ≥ 0 and den > 0 (the count-ratio case); null
  * operands propagate to null like the double form.
  */
object ExactRound {

  /** round(num/den, dp) as a double — the drop-in replacement for
    * `round(num.cast("double") / den, dp)` over integer columns. */
  def ratio(num: Column, den: Column, dp: Int): Column = {
    val p = math.pow(10, dp).toLong
    scaled(num, den, dp).cast("double") / p
  }

  /** The scaled long round(num/den · 10^dp) itself — for carrying on
    * in exact arithmetic (e.g. F1 from scaled precision/recall). */
  def scaled(num: Column, den: Column, dp: Int): Column = {
    val p = math.pow(10, dp).toLong
    call_function("div", num * (2 * p) + den, den * 2)
  }

  /** A 4dp value lifted to its exact scaled long (value · 10⁴) through
    * DECIMAL(14,4), so moments over it are integer arithmetic and no
    * float aggregation order reaches a rounding boundary. */
  def fixed4(c: Column): Column =
    (c.cast("decimal(14,4)") * 10000).cast("long")

  /** [[ratio]] for SIGNED numerators (den > 0): rounds half away from
    * zero — the semantics both engines' round() applies to doubles —
    * by running the nonnegative scheme on |num| and restoring the
    * sign. Needed because Spark `div` truncates and DuckDB `//`
    * floors on negatives: the two disagree exactly on the tie the
    * scheme exists to fix. */
  def signedRatio(num: Column, den: Column, dp: Int): Column = {
    val p = math.pow(10, dp).toLong
    signedScaled(num, den, dp).cast("double") / p
  }

  /** The scaled long behind [[signedRatio]]: round(num/den · 10^dp)
    * half away from zero, for signed `num` and den > 0. */
  def signedScaled(num: Column, den: Column, dp: Int): Column = {
    val mag = scaled(abs(num), den, dp)
    when(num < 0, -mag).otherwise(mag)
  }
}
