package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The codegen'd PolyHash expression vs the built-ins-only fold and known
  * cross-engine values. */
class PolyHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("matches DuckDB-validated constants") {
    val got = Seq("hash", "the", "a", "merge table", "")
      .toDF("t").select(PolyHash(col("t"))).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(3195150L, 114801L, 97L, 922445077L, 0L))
  }

  test("agrees with the portable fold on real corpus tokens") {
    val toks = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
    val diff = toks
      .select(PolyHash(col("w")).as("a"), TextAnalysis.strHashPortable(col("w")).as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.count() == 0)
  }

  test("null input yields null, SQL registration works") {
    register(spark)
    val r = spark.sql("SELECT polyhash(CAST(NULL AS STRING)), polyhash('a')").head
    assert(r.isNullAt(0) && r.getLong(1) == 97L)
  }

  test("newlines are hashed (parity with the (?s) oracle regex)") {
    val got = Seq("a\nb").toDF("t")
      .select(PolyHash(col("t")).as("a"),
        TextAnalysis.strHashPortable(col("t")).as("b")).head
    val expected = ((97L * 31 + 10) * 31 + 98) % TextAnalysis.P
    assert(got.getLong(0) == expected) // DuckDB-validated: 93625
    assert(got.getLong(1) == expected)
  }

  test("non-ASCII code points match the unicode() semantics") {
    // '中' = U+4E2D (20013): hash = ((0*31+20013) % P)
    val got = Seq("中").toDF("t").select(PolyHash(col("t"))).head.getLong(0)
    assert(got == 20013L)
  }

  test("wideHash is the composed two-polynomial key poly31 * P + poly37") {
    // scalar pin: the one-loop wide hash must equal hashing twice with
    // independent multipliers and combining — the arithmetic the DuckDB
    // sqlWideHash twin replays
    def poly(s: String, mult: Long): Long =
      s.codePoints().toArray.foldLeft(0L)((a, c) => (a * mult + c) % TextAnalysis.P)
    for (s <- Seq("", "a", "the quick brown fox", "a\nb", "中 文 mixed", " pad ")) {
      val expected = poly(s, 31L) * TextAnalysis.P + poly(s, WideWindowHashes.Mult2)
      assert(PolyHash.wideHash(s) == expected, s"for input '$s'")
    }
  }

  test("wide expression agrees with the portable composed fold on corpus grams") {
    val grams = graft.operators.Dedup.shingles(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
    val diff = grams
      .select(WidePolyHash(col("g")).as("a"),
        TextAnalysis.wideStrHashPortable(col("g")).as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.count() == 0)
  }

  test("wide null input yields null, SQL registration works, 62-bit range") {
    register(spark)
    val r = spark.sql(
      "SELECT wide_polyhash(CAST(NULL AS STRING)), wide_polyhash('a')").head
    assert(r.isNullAt(0))
    // 'a' = 97: h31 = h37 = 97 -> 97 * P + 97
    assert(r.getLong(1) == 97L * TextAnalysis.P + 97L)
    // max possible key fits a signed 64-bit long with headroom
    assert((TextAnalysis.P - 1) * TextAnalysis.P + (TextAnalysis.P - 1) > 0)
  }

  test("wide keys separate strings the narrow key collides on") {
    // two strings with equal poly31 hashes (constructed: 'ab' vs the
    // string whose first char is shifted by +1 and second by -31)
    val s1 = "ab"
    val s2 = new String(Array(('a' + 1).toChar, ('b' - 31).toChar))
    assert(PolyHash.hash(s1) == PolyHash.hash(s2)) // narrow collides
    assert(PolyHash.wideHash(s1) != PolyHash.wideHash(s2)) // wide separates
  }
}
