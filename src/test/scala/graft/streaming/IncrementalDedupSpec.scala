package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** LSH dedup under continuous ingestion: batches filtered against the
  * persistent band-bucket index. */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"

  test("cross-batch near-dups drop; novel docs keep; chains collapse") {
    val dd = new IncrementalDedup(spark,
      Files.createTempDirectory("graft-inc-dedup").toString)
    dd.init()

    val b1 = Seq(
      (1L, base),
      (2L, base), // identical to 1 within the batch -> dropped (min id wins)
      (3L, "completely different words compose this other sentence here now ok")
    ).toDF("doc_id", "text")
    val kept1 = dd.filterAndClaim(b1, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept1 == Set(1L, 3L))

    val b2 = Seq(
      (4L, base),                       // near-dup of batch-1 doc 1 -> dropped
      (5L, "entirely novel content that matches nothing seen before at all yes")
    ).toDF("doc_id", "text")
    val kept2 = dd.filterAndClaim(b2, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(5L))

    // transitivity: doc 2 was dropped in batch 1, but its buckets were
    // claimed — a dup of doc 2 still drops
    val b3 = Seq((6L, base)).toDF("doc_id", "text")
    assert(dd.filterAndClaim(b3, "doc_id", "text").count() == 0)
  }

  test("replaying a batch (foreachBatch retry) keeps the same rows") {
    val dd = new IncrementalDedup(spark,
      Files.createTempDirectory("graft-inc-dedup-replay").toString)
    dd.init()
    val b = Seq(
      (1L, base),
      (2L, base), // intra-batch dup of 1
      (3L, "completely different words compose this other sentence here now ok")
    ).toDF("doc_id", "text")
    val first = dd.filterAndClaim(b, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val replay = dd.filterAndClaim(b, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(first == Set(1L, 3L))
    assert(replay == first) // idempotent: own claims don't count as dups
  }

  test("docs with no shingles (< 3 tokens) pass through") {
    val dd = new IncrementalDedup(spark,
      Files.createTempDirectory("graft-inc-dedup2").toString)
    dd.init()
    val kept = dd.filterAndClaim(
      Seq((1L, "two words"), (2L, "two words")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(kept.count() == 2)
  }

  private def listDirs(root: String): Map[String, Set[String]] = {
    import scala.jdk.CollectionConverters._
    Files.list(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(Files.isDirectory(_))
      .map(d => d.getFileName.toString ->
        Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet)
      .toMap
  }

  test("a micro-batch writes O(batch) claim deltas, not the whole index") {
    val root = Files.createTempDirectory("graft-inc-delta").toString
    val dd = new IncrementalDedup(spark, root, compactEvery = 100)
    dd.init()
    // seed a real index: 40 distinct docs -> 160 claimed buckets
    val seed = (1L to 40L).map(i =>
      (i, s"document number $i carries its own distinct set of words token$i extra$i more$i"))
      .toDF("doc_id", "text")
    dd.filterAndClaim(seed, "doc_id", "text").count()
    val before = listDirs(root)
    val indexRows = dd.read().count()
    assert(indexRows >= 100) // the index is much bigger than the next batch

    val small = Seq((100L, "one tiny novel batch with a handful of fresh words appended"))
      .toDF("doc_id", "text")
    dd.filterAndClaim(small, "doc_id", "text").count()
    val after = listDirs(root)

    // exactly one new directory, a delta, holding only the batch's claims
    val created = after.keySet -- before.keySet
    assert(created.size == 1 && created.head.startsWith("delta-"), created)
    val deltaRows = spark.read.parquet(s"$root/${created.head}").count()
    assert(deltaRows <= 4, s"delta holds $deltaRows rows — expected <= 4 (one doc)")
    // every pre-existing directory is byte-for-byte untouched (same files)
    before.foreach { case (dir, files) => assert(after(dir) == files, dir) }
  }

  test("the delta log compacts back to one snapshot every compactEvery batches") {
    val root = Files.createTempDirectory("graft-inc-compact").toString
    val dd = new IncrementalDedup(spark, root, compactEvery = 2)
    dd.init()
    dd.filterAndClaim(Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text").count()
    // second batch pushes deltaCount to the threshold -> compaction
    dd.filterAndClaim(
      Seq((2L, "another entirely different document with plenty of its own words"))
        .toDF("doc_id", "text"), "doc_id", "text").count()
    val dirs = listDirs(root).keySet
    assert(!dirs.exists(_.startsWith("delta-")), s"deltas not compacted: $dirs")
    assert(dirs.count(_.startsWith("snap-")) == 1, dirs)
    // semantics preserved through compaction: both docs' buckets still claimed
    assert(dd.filterAndClaim(
      Seq((3L, base)).toDF("doc_id", "text"), "doc_id", "text").count() == 0)
    assert(dd.read().select("claimant").distinct().count() == 2)
  }

  test("drives from a real streaming query via foreachBatch") {
    val srcDir = Files.createTempDirectory("graft-inc-src").toString
    Seq((1L, base)).toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    val dd = new IncrementalDedup(spark,
      Files.createTempDirectory("graft-inc-dedup3").toString)
    dd.init()
    val sink = scala.collection.mutable.Set.empty[Long]
    val q = spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val kept = dd.filterAndClaim(b, "doc_id", "text")
          .select("doc_id").collect().map(_.getLong(0))
        sink.synchronized { sink ++= kept }
        ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-inc-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      Seq((2L, base), (3L, "fresh unseen sentence with many distinct tokens inside it"))
        .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(sink.toSet == Set(1L, 3L)) // 2 is a cross-batch near-dup of 1
    } finally q.stop()
  }

  test("embedding claims: cross-batch duplicates drop, survivors are " +
    "mutually distinct, replays are stable") {
    val dd = new IncrementalEmbedDedup(spark,
      Files.createTempDirectory("graft-inc-emb").toString)
    dd.init()
    // deterministic vectors: v1/v2 identical (all 4 bands shared), v3
    // far away (different direction)
    def vec(seed: Int) = Array.tabulate(16)(i =>
      (math.sin(seed * 31 + i) * 2).toFloat)
    val b1 = Seq((1L, vec(1)), (2L, vec(1)), (3L, vec(99)))
      .toDF("vec_id", "embedding")
    val kept1 = dd.filterAndClaim(b1, "vec_id", "embedding")
      .select("vec_id").as[Long].collect().toSet
    assert(kept1.contains(1L) && !kept1.contains(2L),
      s"identical vector must drop within the batch: $kept1")

    val b2 = Seq((10L, vec(1)), (11L, vec(1234)))
      .toDF("vec_id", "embedding")
    val kept2 = dd.filterAndClaim(b2, "vec_id", "embedding")
      .select("vec_id").as[Long].collect().toSet
    assert(!kept2.contains(10L),
      s"cross-batch identical vector must drop: $kept2")

    // replay of batch 2: same kept rows, store decisions unchanged
    val replay = dd.filterAndClaim(b2, "vec_id", "embedding")
      .select("vec_id").as[Long].collect().toSet
    assert(replay == kept2)

    // union invariant: no two SURVIVORS are near-duplicates at the
    // store's threshold — the verified claim tier's contract (band
    // sharing alone no longer implies a drop; the exact-cosine verify
    // does). All-pairs here is fine at spec scale.
    val survivors = (kept1 ++ kept2).toSeq
    val sv = b1.unionAll(b2)
      .filter(col("vec_id").isin(survivors: _*))
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    for {
      i <- sv.indices
      j <- (i + 1) until sv.length
    } {
      val (va, vb) = (sv(i)._2, sv(j)._2)
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val cos = dot / (math.sqrt(va.map(x => x * x).sum) *
        math.sqrt(vb.map(x => x * x).sum))
      assert(cos < 0.9,
        s"survivors ${sv(i)._1} and ${sv(j)._1} are near-dups (cos $cos)")
    }
  }

  test("embedding claims do NOT saturate: 5k random vectors all survive, " +
    "exact duplicates still drop") {
    // The round-8 tier banded 4×8-bit keys with no verify: a 1,024-key
    // claim space saturates after a few hundred survivors and then
    // false-drops essentially everything. This pins the rebuild — 4×32-bit
    // bands + exact-cosine verify — by streaming 5,000 random 64-d vectors
    // through the store in batches: every one is genuinely distinct
    // (random 64-d directions never reach cos 0.9), so every one must
    // survive. Under the old tier the survivor count collapses to the
    // low hundreds.
    val dd = new IncrementalEmbedDedup(spark,
      Files.createTempDirectory("graft-inc-emb-sat").toString)
    dd.init()
    val rng = new scala.util.Random(42)
    val vecs = Array.tabulate(5000)(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat)))
    var survivors = 0L
    vecs.grouped(1000).foreach { chunk =>
      val batch = chunk.toSeq.toDF("vec_id", "embedding")
      survivors += dd.filterAndClaim(batch, "vec_id", "embedding").count()
    }
    assert(survivors == 5000L,
      s"claim space falsely dropped ${5000 - survivors} of 5000 distinct vectors")
    // recall control: replaying the same vectors under NEW ids drops all
    // of them — each shares every band with its original's claims and the
    // exact cosine against the stored claimant vector is 1
    val dups = vecs.take(500).map { case (id, v) => (id + 1000000L, v) }
      .toSeq.toDF("vec_id", "embedding")
    val keptDups = dd.filterAndClaim(dups, "vec_id", "embedding").count()
    assert(keptDups == 0L, s"$keptDups exact duplicates survived the claim store")
  }

  test("retraction: a deleted claimant's buckets clear, the replayed dup " +
    "survives and becomes the new claimant; persists across reopen") {
    val dir = Files.createTempDirectory("graft-inc-retract").toString
    val dd = new IncrementalDedup(spark, dir)
    dd.init()
    val other = "completely different words compose this other sentence here now ok"
    // claim: doc 1 claims base's buckets; doc 3 claims other's
    assert(dd.filterAndClaim(Seq((1L, base), (3L, other))
      .toDF("doc_id", "text"), "doc_id", "text").count() == 2)
    // drop a dup against the live claimant
    assert(dd.filterAndClaim(Seq((4L, base)).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)
    // delete the claimant (recrawl tombstone) — its claims clear, doc
    // 3's are untouched
    val removed = dd.retract(Seq(1L))
    assert(removed == 4L, s"removed $removed claims (want 4 bands)")
    assert(dd.read().filter(col("claimant") === 1L).count() == 0)
    assert(dd.read().filter(col("claimant") === 3L).count() == 4)
    // the replayed dup now SURVIVES and becomes the new claimant…
    assert(dd.filterAndClaim(Seq((4L, base)).toDF("doc_id", "text"),
      "doc_id", "text").count() == 1)
    // …and its claim is live: a later copy drops against id 4, also
    // through a REOPENED store (persistence)
    val dd2 = new IncrementalDedup(spark, dir)
    dd2.init()
    assert(dd2.filterAndClaim(Seq((5L, base)).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)
    assert(dd2.read().filter(col("claimant") === 4L).count() == 4)
    // empty / no-match retractions are free no-ops
    assert(dd2.retract(Seq.empty) == 0L)
    assert(dd2.retract(Seq(999L)) == 0L)
  }
}
