package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain

/** Column wrapper over Spark's own codegen'd [[BloomFilterMightContain]]
  * predicate — the expression Spark's runtime row-level filtering injects,
  * here driven explicitly: `value` (a long key, e.g. a
  * [[PolyHash]] gram hash) probed against a serialized
  * `org.apache.spark.util.sketch.BloomFilter` literal.
  *
  * Why: the broadcast-hash-join gate needs the whole build side in every
  * executor (~100+ B/row); a Bloom filter answers the same "could this key
  * match?" question one-sided in ~`-1.44·log2(fpp)` BITS per key — two
  * orders of magnitude smaller — so a probe set far past the broadcast
  * budget still ships to every task as a compact sketch. False POSITIVES
  * only (never false negatives): a downstream exact join keeps the final
  * answer exact, the gate just cuts what reaches the exchange.
  */
object BloomGate {

  /** `might_contain(filterBytes, value)` — filterBytes must be a foldable
    * binary column (a `lit` of the serialized filter). */
  def apply(filterBytes: Column, value: Column): Column =
    Columns(BloomFilterMightContain(expression(filterBytes), expression(value)))

  /** Serialize a sketch BloomFilter to the byte form
    * [[BloomFilterMightContain]] deserializes. */
  def serialize(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}
