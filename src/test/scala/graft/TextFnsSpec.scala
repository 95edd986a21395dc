package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns

class TextFnsSpec extends SparkSuite {
  import spark.implicits._

  test("native TokenStats kernel matches the split/aggregate HOF twin " +
    "cell-for-cell, including separator-edge and multibyte inputs") {
    import org.apache.spark.sql.functions._
    val corpus = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("text")
      .unionByName(Seq("", " ", "  ", "\t", "\t\t", "\n", "a", " a ",
        "\ta b\n", "a  b", "é ☃ x", "a\u000bb", "x\r", "\fx",
        "многа слов", null).map(Tuple1(_)).toDF("text"))
    val t = TextFns.tokens(col("text"))
    val st = graft.plans.TokenStats.column(col("text"))
    val diffs = corpus.select(
        size(t).cast("long").as("hof_n"),
        aggregate(t, lit(0L), (acc, x) => acc + length(x)).as("hof_sum"),
        st.getField("n_tokens").as("k_n"),
        st.getField("sum_tok_len").as("k_sum"))
      .filter(!(col("hof_n") <=> col("k_n")) ||
        !(col("hof_sum") <=> col("k_sum")))
    assert(diffs.count() == 0, diffs.limit(5).collect().mkString("; "))
  }

  test("native WordNGrams kernel is cell-for-cell identical to the " +
    "composed zip_with formulation, including degenerate inputs") {
    val corpus = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("text")
      .unionByName(Seq("", " ", "one", "a b", "\ta b", null)
        .map(Tuple1(_)).toDF("text"))
    Seq(1, 2, 3, 5).foreach { n =>
      val diffs = corpus.select(
          TextFns.shingles(col("text"), n).as("native"),
          TextFnsTwins.shinglesHof(col("text"), n).as("hof"))
        .filter(!(col("native") <=> col("hof"))).count()
      assert(diffs == 0, s"n=$n")
    }
  }

  test("bpePieces splits letter/digit/symbol runs and drops whitespace") {
    val out = Seq("Hello, world 42 don't x9y!!").toDF("text")
      .select(TextFns.bpePieces(col("text"))).as[Seq[String]].head()
    assert(out == Seq("Hello", ",", "world", "42", "don", "'", "t",
      "x", "9", "y", "!!"))
  }

  test("rollingFingerprint matches the closed-form recurrence, is " +
    "order-sensitive, and hashes empty to 0") {
    val out = Seq("ab", "ba", "").toDF("text")
      .select(TextFns.rollingFingerprint(col("text"))).as[Long].collect()
    assert(out(0) == 97L * 31 + 98) // ((0·31+97) mod M)·31 + 98
    assert(out(1) == 98L * 31 + 97)
    assert(out(0) != out(1)) // positional, unlike fingerprint()
    assert(out(2) == 0L)
  }

  test("rollingFingerprint stays under the 2^31-1 modulus on long text") {
    val long = Seq(("x" * 10000)).toDF("text")
      .select(TextFns.rollingFingerprint(col("text"))).as[Long].head()
    assert(long >= 0L && long < 2147483647L)
  }
}
