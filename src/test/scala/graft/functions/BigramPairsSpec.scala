package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The fused one-pass BigramPairs expression vs its two-pass twin — the
  * positional zip of WindowHashes L=1 and L=2 it replaces in the q77
  * corpus scan — bitwise on real corpus text, plus the prefix-reuse
  * arithmetic and edge semantics. */
class BigramPairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bitwise parity with the zipped WindowHashes twin on corpus text") {
    val diff = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(BigramPairs(col("text")).as("a"),
        WindowHashes(col("text"), 1).as("u"),
        WindowHashes(col("text"), 2).as("b2"))
      .filter(not(
        col("a.h12") === col("b2") &&
          col("a.h1") === slice(col("u"), lit(1),
            greatest(size(col("b2")), lit(0)))))
    assert(diff.count() == 0, "fused pairs diverge from the two-pass twin")
  }

  test("JVM compute: h1 is the token hash, h12 continues it across the space") {
    val got = BigramPairs.compute("aa b ccc")
    assert(got.numElements() == 2)
    val r0 = got.getStruct(0, 2)
    assert(r0.getLong(0) == PolyHash.hash("aa"))
    assert(r0.getLong(1) == PolyHash.hash("aa b"))
    val r1 = got.getStruct(1, 2)
    assert(r1.getLong(0) == PolyHash.hash("b"))
    assert(r1.getLong(1) == PolyHash.hash("b ccc"))
  }

  test("supplementary code points fold per code point, not per char") {
    // U+1D11E (musical G clef) is a surrogate pair in UTF-16
    val t = "𝄞 x"
    val got = BigramPairs.compute(t)
    assert(got.numElements() == 1)
    val r = got.getStruct(0, 2)
    assert(r.getLong(0) == PolyHash.hash("𝄞"))
    assert(r.getLong(1) == PolyHash.hash("𝄞 x"))
  }

  test("fewer than two tokens is empty; null stays null; codegen path used") {
    register(spark)
    val r = spark.sql(
      "SELECT bigram_pairs('solo'), bigram_pairs(''), " +
        "bigram_pairs(CAST(NULL AS STRING))").head
    assert(r.getSeq[Any](0).isEmpty && r.getSeq[Any](1).isEmpty && r.isNullAt(2))
    // whitespace-only: one empty token after trim — still nothing to pair
    assert(BigramPairs.compute("   ").numElements() == 0)
    // "a \n b" keeps interior whitespace runs as one separator
    val ws = BigramPairs.compute("a \n b")
    assert(ws.numElements() == 1)
    assert(ws.getStruct(0, 2).getLong(1) == PolyHash.hash("a b"))
  }
}
