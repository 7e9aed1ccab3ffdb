package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The codegen'd WindowHashes expression vs its built-ins twin (the HOF
  * transform/slice/concat_ws/polyhash formulation it replaces) — bitwise,
  * on real corpus text — plus edge semantics. */
class WindowHashesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hofTwin(l: Int) = {
    val w = TextAnalysis.tokens(col("text"))
    when(coalesce(size(w), lit(0)) < l, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(1), size(w) - (l - 1)),
        i => TextAnalysis.strHashPortable(concat_ws(" ", slice(w, i, lit(l))))))
  }

  test("bitwise parity with the built-ins twin on real corpus text") {
    for (l <- Seq(1, 3, 8)) {
      val diff = Tables.documents(spark, "/root/testdata/sf0.001")
        .select(WindowHashes(col("text"), l).as("a"), hofTwin(l).as("b"))
        .filter(not(col("a") === col("b")))
      assert(diff.count() == 0, s"L=$l diverges from the HOF twin")
    }
  }

  test("JVM compute matches PolyHash of the joined slice directly") {
    val toks = Array("aa", "b", "ccc", "dd", "e")
    val got = WindowHashes.compute(toks.mkString(" "), 3)
    (0 to 2).foreach { k =>
      assert(got.getLong(k) == PolyHash.hash(toks.slice(k, k + 3).mkString(" ")),
        s"window $k")
    }
  }

  test("short documents yield an empty array; null stays null; width checked") {
    register(spark)
    val r = spark.sql(
      "SELECT window_hashes('a b', 3), window_hashes(CAST(NULL AS STRING), 3)")
      .head
    assert(r.getSeq[Long](0).isEmpty && r.isNullAt(1))
    // whitespace-only text tokenizes to [""] (the trim/split contract) —
    // one token, so L=1 hashes the empty string (0), L=2 is empty
    assert(WindowHashes.compute("  ", 1).getLong(0) == 0L)
    assert(WindowHashes.compute("  ", 2).numElements() == 0)
    intercept[IllegalArgumentException] { WindowHashes.compute("a", 0) }
  }

  test("supplementary code points fold one value per code point") {
    // U+1F600 (128512) as a single token: hash = 128512 % P
    assert(WindowHashes.compute(new String(Character.toChars(0x1F600)), 1)
      .getLong(0) == 128512L)
  }

  // poly37 reference twin for the wide key's second coordinate
  private def poly37(s: String): Long = {
    var a = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      a = (a * WideWindowHashes.Mult2 + cp) % TextAnalysis.P
      i += Character.charCount(cp)
    }
    a
  }

  test("wide key decomposes exactly into the two 31-bit polynomials") {
    val toks = Array("aa", "b", "ccc", "dd", "e", "aa", "b")
    val wide = WideWindowHashes.compute(toks.mkString(" "), 3)
    val narrow = WindowHashes.compute(toks.mkString(" "), 3)
    val p = TextAnalysis.P
    (0 to 4).foreach { k =>
      val joined = toks.slice(k, k + 3).mkString(" ")
      assert(wide.getLong(k) / p == narrow.getLong(k), s"h31 part, window $k")
      assert(wide.getLong(k) % p == poly37(joined), s"h37 part, window $k")
    }
  }

  test("wide expression matches the 31-bit expression's keys on real " +
      "corpus text (quotient part), codegen path") {
    val p = TextAnalysis.P
    for (l <- Seq(1, 8)) {
      val diff = Tables.documents(spark, "/root/testdata/sf0.001")
        .select(WideWindowHashes(col("text"), l).as("w"),
          WindowHashes(col("text"), l).as("n"))
        // `div`, not `/`: Spark's `/` is float division, which rounds
        // 62-bit keys before dividing
        .selectExpr(s"transform(w, x -> x div ${p}L) AS q", "n")
        .filter(not(col("q") === col("n")))
      assert(diff.count() == 0, s"L=$l wide/narrow quotient diverges")
    }
  }

  test("wide key edge semantics mirror the narrow expression") {
    register(spark)
    val r = spark.sql(
      "SELECT wide_window_hashes('a b', 3), " +
      "wide_window_hashes(CAST(NULL AS STRING), 3)").head
    assert(r.getSeq[Long](0).isEmpty && r.isNullAt(1))
    assert(WideWindowHashes.compute("  ", 1).getLong(0) == 0L)
    assert(WideWindowHashes.compute("  ", 2).numElements() == 0)
    intercept[IllegalArgumentException] { WideWindowHashes.compute("a", 0) }
  }
}
