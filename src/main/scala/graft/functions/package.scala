package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Native Catalyst expressions for the text and vector kernels. Each
  * helper (`PolyHash(c)`, `VecDot(a, b)`, ...) builds its Column from the
  * expression directly, so DataFrame code needs no session setup. */
package object functions {

  /** The functions SQL text calls by name, with their builders. */
  private val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "polyhash" -> (e => PolyHash(e(0))),
    "wide_polyhash" -> (e => WidePolyHash(e(0))),
    "word_shingles" -> (e => WordShingles(e(0))),
    "minhash_sig" -> (e => MinHashSig(e(0))),
    "hyperplane_bucket" -> (e => HyperplaneBucket(e(0))),
    "window_hashes" -> (e => WindowHashes(e(0), e(1))),
    "wide_window_hashes" -> (e => WideWindowHashes(e(0), e(1))),
    "bigram_pairs" -> (e => BigramPairs(e(0))),
    "vec_dot" -> (e => VecDot(e(0), e(1))))

  /** Make the SQL-callable functions resolvable in `spark.sql` and
    * `selectExpr` on this session. A name the session already holds is
    * skipped, so a repeated call replaces nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    sqlFunctions.foreach { case (name, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
