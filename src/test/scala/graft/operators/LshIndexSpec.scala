package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The materialized LSH layout: bucket partitions on disk, multi-probe =
  * directory pruning, same contract family as [[IvfIndexSpec]]. */
class LshIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dirData = "/root/testdata/sf0.001"

  test("driver bucket twin matches the in-scan expression on every row") {
    val emb = Tables.embeddings(spark, dirData)
    val rows = emb
      .select(col("vec_id"), Similarity.vecD(col("embedding")).as("vecd"))
      .withColumn("bucket", Similarity.hyperplaneBucket(col("vecd")))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      assert(graft.functions.HyperplaneBucket.computeJvm(v) == r.getLong(2),
        s"bucket twin diverged on vec_id ${r.getLong(0)}")
    }
  }

  test("probe reads only the Hamming-radius bucket partitions and " +
    "reranks exactly like the in-memory multi-probe path") {
    val dir = Files.createTempDirectory("graft-lsh-index").toString
    val emb = Tables.embeddings(spark, dirData)
    Similarity.lshWriteIndex(emb, "vec_id", "embedding", dir)

    val bucketDirs = new java.io.File(s"$dir/data").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(bucketDirs > 1 && bucketDirs <= 256)

    val qvec = emb.filter(col("vec_id") === 0)
      .select(Similarity.vecD(col("embedding"))).head().getSeq[Double](0)
    val qb = graft.functions.HyperplaneBucket.computeJvm(qvec.toArray)
    val radius = 1
    // only buckets that EXIST on disk can be scanned; the probe set is 9
    // abstract buckets, pruning intersects it with the written dirs
    val existing = new java.io.File(s"$dir/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.getName.stripPrefix("bucket=").toLong).toSet
    val probedExisting = (0L until 256L)
      .filter(b => java.lang.Long.bitCount(b ^ qb) <= radius)
      .count(existing.contains)

    val res = Similarity.annTopKIndexed(spark, dir, "vec_id", "embedding",
      qvec, k = 5, radius = radius)
    val scanned = res.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec if f.metadata.get("Location").exists(_.contains("data")) =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.nonEmpty && scanned.forall(_ == probedExisting),
      s"expected $probedExisting pruned partitions, saw $scanned")

    // parity with the in-memory multi-probe path: same candidates, same
    // exact rerank. The indexed probe does NOT exclude the query row (it
    // takes a raw vector, which need not be in the corpus), so compare
    // after dropping vec_id 0 from its output.
    val idx = res.collect().filter(_.getLong(0) != 0L)
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val mem = Similarity.annTopKMultiProbe(emb, "vec_id", "embedding",
        queryId = 0L, k = 5, radius = radius)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // idx holds k rows including vec 0; after dropping it, its remaining
    // prefix must equal mem's prefix of the same length
    assert(idx == mem.take(idx.length),
      s"indexed probe diverged from in-memory multi-probe: $idx vs $mem")

    // radius 0 ≡ single bucket: exactly one partition scanned
    val r0 = Similarity.annTopKIndexed(spark, dir, "vec_id", "embedding",
      qvec, k = 5, radius = 0)
    val scanned0 = r0.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec if f.metadata.get("Location").exists(_.contains("data")) =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned0.forall(_ <= 1))
  }
}
