package perfbench

import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SparkPlan

/** Exact digest of a result: row count plus a hash over the UnsafeRow bytes
  * of every row. `ordered` digests are a polynomial rolling hash over the
  * rows in output order (independent of how rows are split into partitions);
  * unordered digests are the wrapping sum of row hashes. Computing it is the
  * action that executes the plan, so the digest comes from the timed run. */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Digest {
  private val M = 1000003L

  private def pow(b: Long, e: Long): Long = {
    var result = 1L; var base = b; var n = e
    while (n > 0) {
      if ((n & 1L) == 1L) result *= base
      base *= base
      n >>= 1
    }
    result
  }

  def of(plan: SparkPlan, ordered: Boolean): Digest = {
    val schema = plan.schema
    val parts = plan.execute().mapPartitionsWithIndex { (i, it) =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var h = 0L
      it.foreach { r =>
        val u = proj(r)
        val rh = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        h = if (ordered) h * M + rh else h + rh
        n += 1
      }
      Iterator((i, n, h))
    }.collect().sortBy(_._1)
    var n = 0L; var h = 0L
    parts.foreach { case (_, pn, ph) =>
      h = if (ordered) h * pow(M, pn) + ph else h + ph
      n += pn
    }
    Digest(n, h)
  }
}
