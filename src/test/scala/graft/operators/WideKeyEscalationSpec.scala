package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.functions.{TextAnalysis, ThirdPolyHash, ThirdWindowHashes, WideWindowHashes}

/** The 93-bit hash-key escalation tier (SCALE.md's hash-width policy):
  * the third polynomial coordinate's arithmetic parity, and the
  * escalated operators' byte-identical outputs below the birthday
  * regime — the same pin discipline the 62-bit rollout used. */
class WideKeyEscalationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("third_polyhash == composed mult-41 fold; independent of h62") {
    val samples = Seq("", "a", "hello world", "foo bar\n", "中Ωλß é",
      "x" * 300, "a b  c\td", "😀 mixed 😀")
    samples.foreach { s =>
      // portable twin: explicit fold over code points
      var acc = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = (acc * WideWindowHashes.Mult3 + cp) % TextAnalysis.P
        i += Character.charCount(cp)
      }
      assert(ThirdPolyHash.hash(s) == acc, s"mismatch on '${s.take(30)}'")
    }
    // the coordinate must come from the STRING, not the 62-bit value: a
    // crafted pair agreeing on h31 must still split on the third hash
    // (an affine rehash of h62 could never split what h62 merges)
    assert(ThirdPolyHash.hash("ab") != ThirdPolyHash.hash("ba"))
  }

  test("third_window_hashes == per-window ThirdPolyHash of joined slices") {
    val texts = Seq("one two three four five six", "a b", "", "x y z\n")
    texts.foreach { t =>
      val toks = TextAnalysis.jvmTokens(t)
      val n = 3
      val want = (0 to toks.length - n).map(k =>
        ThirdPolyHash.hash(toks.slice(k, k + n).mkString(" ")))
      val got = Seq(t).toDF("text")
        .select(ThirdWindowHashes(col("text"), n).as("h"))
        .head().getSeq[Long](0)
      assert(got == want, s"window mismatch on '$t'")
    }
  }

  test("spanDupStats: 93-bit composite key is byte-identical to 62-bit " +
    "below the birthday regime") {
    val docs = Tables.documents(spark, dir)
    def run(bits: Int) = Dedup.spanDupStats(docs, "doc_id", "text",
        hashBits = bits)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(run(93) == run(62))
  }

  test("scrubDupSpans: 93-bit composite chunk key is byte-identical to " +
    "62-bit below the birthday regime (deleted spans are the worst case)") {
    val docs = Tables.documents(spark, dir)
    def run(bits: Int) = Dedup.scrubDupSpans(docs, "doc_id", "text",
        hashBits = bits)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val r93 = run(93)
    assert(r93 == run(62))
    // the fixture really has dup spans to scrub (q62's corpus)
    assert(r93.exists(_.last.asInstanceOf[Long] > 0L))
  }

  test("globalStats: 93-bit composite window key is byte-identical to " +
    "62-bit below the birthday regime") {
    val docs = Tables.documents(spark, dir)
    def run(bits: Int) = ExactSubstring.globalStats(docs, "doc_id", "text",
        minTokens = 8, minOcc = 2, hashBits = bits)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val (w93, w62) = (run(93), run(62))
    assert(w93 == w62)
    assert(w62.nonEmpty)
  }

  test("flaggedSalted: 93-bit composite gram key is byte-identical to " +
    "62-bit below the birthday regime (with and without the Bloom gate)") {
    val docs = Tables.documents(spark, dir)
    // eval = a slice of train: guaranteed gram overlap, so the parity
    // check exercises real matches, not empty outputs
    val evalDf = docs.filter(col("doc_id") % 50 === 0)
    def run(bits: Int, bloom: Boolean) =
      Decontaminate.flaggedSalted(docs, evalDf, "doc_id", "text",
          minShared = 2, bloomGate = bloom, hashBits = bits)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val base = run(62, bloom = false)
    assert(base.nonEmpty)
    assert(run(93, bloom = false) == base)
    assert(run(93, bloom = true) == base)
  }

  test("flaggedBloom: 93-bit composite gram key is byte-identical to " +
    "62-bit below the birthday regime") {
    val docs = Tables.documents(spark, dir)
    val evalDf = docs.filter(col("doc_id") % 50 === 0)
    def run(bits: Int) =
      Decontaminate.flaggedBloom(docs, evalDf, "doc_id", "text",
          minShared = 2, hashBits = bits)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val (w93, w62) = (run(93), run(62))
    assert(w93 == w62)
    assert(w62.nonEmpty)
  }

  test("default width follows GRAFT_HASH_BITS (62 unless escalated)") {
    val want = if (sys.env.get("GRAFT_HASH_BITS").contains("93")) 93 else 62
    assert(TextAnalysis.defaultHashBits == want)
  }
}
