package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every column helper builds its expression directly: it analyzes and
  * evaluates in a session whose function registry never saw a
  * registration, and each value equals the helper's scalar reference. */
class FreshSessionSpec extends AnyFunSuite {
  // newSession() clones no temp functions: a fresh registry
  private lazy val fresh = TestSpark.spark.newSession()

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog and the quick cat",
    "one two three four five six seven eight nine ten eleven twelve",
    "der hund und die katze",
    "a b",
    "")

  private val vecs = Seq(
    Seq(0.5, -1.0, 2.0, 0.25),
    Seq(1.0, 1.0, 1.0, 1.0),
    Seq(-3.0, 0.0, 0.5, 4.0))

  /** Catalyst value of a scalar reference → the value a Row carries. */
  private def toRow(v: Any, t: DataType): Any =
    CatalystTypeConverters.convertToScala(v, t)

  private def check(inputs: org.apache.spark.sql.DataFrame,
                    cases: Seq[(String, Column, Row => Any)]): Unit = {
    val rows = inputs.select(col("*") +: cases.map { case (n, c, _) => c.as(n) }: _*)
    val schema = rows.schema
    val got = rows.collect()
    assert(got.length == inputs.count())
    for (r <- got; (n, _, ref) <- cases) {
      val i = schema.fieldIndex(n)
      assert(r.get(i) == toRow(ref(r), schema(i).dataType), s"$n on $r")
    }
  }

  test("text helpers analyze in a fresh session and match their scalar references") {
    import fresh.implicits._
    val words = Seq("the", "and", "und")
    val wordSet = new java.util.HashSet[String]()
    words.foreach(wordSet.add)
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(16, 0.01)
    texts.take(2).foreach(t => bloom.putLong(PolyHash.hash(t)))
    val starts = new GenericArrayData(Array[Any](2))
    val ends = new GenericArrayData(Array[Any](3))
    def s(r: Row): String = r.getString(0)
    def u(r: Row): UTF8String = UTF8String.fromString(s(r))
    val t = col("t")
    check(texts.toDF("t"), Seq(
      ("polyhash", PolyHash(t), r => PolyHash.hash(s(r))),
      ("wide_polyhash", WidePolyHash(t), r => PolyHash.wideHash(s(r))),
      ("third_polyhash", ThirdPolyHash(t), r => ThirdPolyHash.hash(s(r))),
      ("word_shingles", WordShingles(t), r => WordShingles.compute(s(r))),
      ("word_shingle_set", WordShingleSet(t), r => WordShingleSet.compute(s(r))),
      ("minhash_sig", MinHashSig(t), r => MinHashSig.compute(s(r))),
      ("simhash_sig", SimHashSig(t), r => SimHashSig.compute(s(r))),
      ("token_stats", TokenStats(t), r => TokenStats.compute(s(r))),
      ("stop_hits", StopHits(t, words), r => StopHits.compute(s(r), wordSet)),
      ("repetition_stats", RepetitionStats(t), r => RepetitionStats.compute(s(r))),
      ("lang_scores", LangScores(t), r => LangScores.compute(s(r))),
      ("bigram_pairs", BigramPairs(t), r => BigramPairs.compute(s(r))),
      ("window_hashes", WindowHashes(t, 3), r => WindowHashes.compute(s(r), 3)),
      ("wide_window_hashes", WideWindowHashes(t, 3),
        r => WideWindowHashes.compute(s(r), 3)),
      ("third_window_hashes", ThirdWindowHashes(t, 3),
        r => ThirdWindowHashes.compute(s(r), 3)),
      ("cdc_chunks", CdcChunks(t, 2, 1), r => CdcChunks.compute(s(r), 2, 1)),
      ("winnow_select", WinnowSelect(t, 2, 3, wide = false),
        r => WinnowSelect.compute(s(r), 2, 3, wide = false)),
      ("winnow_select_wide", WinnowSelect(t, 2, 3, wide = true),
        r => WinnowSelect.compute(s(r), 2, 3, wide = true)),
      ("scrub_tokens", ScrubTokens(t, typedlit(Seq(2)), typedlit(Seq(3))),
        r => ScrubTokens.compute(s(r), starts, ends)),
      ("pin_eval", PinEval.pin(t), r => u(r)),
      ("bloom_gate", BloomGate(lit(BloomGate.serialize(bloom)), PolyHash(t)),
        r => bloom.mightContainLong(PolyHash.hash(s(r))))))
  }

  test("vector helpers analyze in a fresh session and match their scalar references") {
    import fresh.implicits._
    // two 4-d centroids (ids 7, 9) and a two-entry shared residual codebook
    val ids = Seq(7L, 9L)
    val flat = Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 1.0)
    val norms = Seq(1.0, math.sqrt(2.0))
    val ids2 = Seq(0L, 1L)
    val flat2 = Seq(0.0, 0.0, 0.0, 0.0, 0.5, -0.5, 0.5, 0.5)
    val cb = Seq(0.0, 0.0, 1.0, 1.0, -1.0, 2.0, 0.5, 0.5) // m = 2, k = 2
    val vecLit = Literal.create(Seq(0.0))
    val ncRef = NearestCentroid(vecLit, Literal(0.0), ids.toIndexedSeq,
      flat.toIndexedSeq, norms.toIndexedSeq)
    val nrRef = NearestResidual(vecLit, Literal(0L), ids.toIndexedSeq,
      flat.toIndexedSeq, ids2.toIndexedSeq, flat2.toIndexedSeq)
    val pqRef = PqCodes(vecLit, 2, 2, cb.toIndexedSeq)
    def a(r: Row) = new GenericArrayData(r.getSeq[Double](0).toArray[Any])
    def nullIfMin(x: Long): Any = if (x == Long.MinValue) null else x
    val v = col("v")
    val w = col("w")
    val inputs = vecs.zip(vecs.reverse).zipWithIndex
      .map { case ((x, y), i) => (x, y, math.sqrt(x.map(e => e * e).sum), ids(i % 2)) }
      .toDF("v", "w", "norm", "cell1")
    check(inputs, Seq(
      ("hyperplane_bucket", HyperplaneBucket(v),
        r => HyperplaneBucket.compute(a(r), checkNulls = true)),
      ("hyperplane_sig", HyperplaneSig(v),
        r => HyperplaneSig.compute(a(r), checkNulls = true, HyperplaneSig.LoOffset)),
      ("hyperplane_sig_hi", HyperplaneSig.hi(v),
        r => HyperplaneSig.compute(a(r), checkNulls = true, HyperplaneSig.HiOffset)),
      ("vec_dot", VecDot(v, w), r => VecDot.dot(a(r),
        new GenericArrayData(r.getSeq[Double](1).toArray[Any]))),
      ("nearest_centroid", NearestCentroid(v, col("norm"), ids, flat, norms),
        r => nullIfMin(ncRef.compute(a(r), r.getDouble(2)))),
      ("nearest_residual", NearestResidual(v, col("cell1"), ids, flat, ids2, flat2),
        r => nullIfMin(nrRef.compute(a(r), r.getLong(3)))),
      ("pq_codes", PqCodes(v, 2, 2, cb), r => pqRef.compute(a(r)))))
  }
}
