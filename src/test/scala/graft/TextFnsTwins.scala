package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFns.tokens

/** Reference formulations of [[graft.functions.TextFns]] kernels that
  * the specs pin the native forms to cell for cell. */
object TextFnsTwins {

  /** Composed-Catalyst twin of [[graft.functions.TextFns.shingles]]
    * (zip_with against k-shifted slices; lambdas touch only their own
    * arguments — an element_at formulation re-evaluates tokenization
    * per element, O(tokens²)). */
  def shinglesHof(text: Column, n: Int): Column = {
    val t = tokens(text)
    if (n == 1) array_distinct(t)
    else {
      val grams = (1 until n).foldLeft(t) { (acc, k) =>
        zip_with(acc, slice(t, lit(k + 1), size(t)), (g, w) =>
          when(w.isNotNull && g.isNotNull, concat(g, lit(" "), w)))
      }
      array_distinct(filter(grams, g => g.isNotNull))
    }
  }
}
