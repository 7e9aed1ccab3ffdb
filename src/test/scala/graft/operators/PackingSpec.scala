package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Contiguous cumulative packing semantics. */
class PackingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("documents pack greedily by exclusive prefix sum within the key") {
    // budget 10, weights in id order: 4,4,4 | 12 | 3,3
    // exclusive prefixes: 0,4,8 | 12 | 24,27 -> packs 0,0,0 | 1 | 2,2
    val docs = Seq(
      ("a", 1L, 4L), ("a", 2L, 4L), ("a", 3L, 4L),
      ("a", 4L, 12L), // oversize doc: overflows its pack, never splits
      ("a", 5L, 3L), ("a", 6L, 3L),
      ("b", 7L, 9L), ("b", 8L, 2L) // independent key: restarts at pack 0
    ).toDF("source", "doc_id", "tok")
    val out = Packing.packByBudget(docs, "doc_id", "tok", Seq("source"), 10L)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 2L, 6L -> 2L,
      7L -> 0L, 8L -> 0L))
    val sum = Packing.packSummary(docs, "doc_id", "tok", Seq("source"), 10L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(sum(("a", 0L)) == ((3L, 12L))) // pack 0 holds 3 docs, 12 tokens
    assert(sum(("a", 1L)) == ((1L, 12L))) // the oversize doc alone
    assert(sum(("b", 0L)) == ((2L, 11L)))
  }

  test("tied order keys still pack one row at a time (ROWS frame)") {
    // four equal-weight docs sharing ONE orderCol value, budget 4: the
    // default RANGE frame would give every row the peers-inclusive sum 8
    // and put all four in pack 1 (pack 0 empty); the ROWS frame must fill
    // packs 0 and 1 with two docs each. Equal weights keep the summary
    // deterministic even though tie ORDER is arbitrary.
    val docs = Seq(
      ("a", 1L, 2L), ("a", 1L, 2L), ("a", 1L, 2L), ("a", 1L, 2L)
    ).toDF("source", "doc_id", "tok")
    val sum = Packing.packSummary(docs, "doc_id", "tok", Seq("source"), 4L)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(sum == Map(0L -> ((2L, 4L)), 1L -> ((2L, 4L))))
  }

  test("budget must be positive") {
    val docs = Seq(("a", 1L, 4L)).toDF("source", "doc_id", "tok")
    intercept[IllegalArgumentException] {
      Packing.packByBudget(docs, "doc_id", "tok", Seq("source"), 0L)
    }
  }

  test("weight columns needing quoting pack correctly (no expr injection)") {
    // a hyphenated name fails to parse unquoted inside expr(): the
    // backtick-quoted build must handle it
    val docs = Seq(("a", 1L, 4L), ("a", 2L, 4L), ("a", 3L, 4L))
      .toDF("source", "doc_id", "tok-count")
    val out = Packing.packByBudget(docs, "doc_id", "tok-count", Seq("source"), 8L)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("caller columns named _cum are not clobbered by the temp column") {
    val docs = Seq(("a", 1L, 4L, "keep1"), ("a", 2L, 4L, "keep2"))
      .toDF("source", "doc_id", "tok", "_cum")
    val out = Packing.packByBudget(docs, "doc_id", "tok", Seq("source"), 8L)
    assert(out.columns.count(_ == "_cum") == 1)
    assert(out.select("_cum").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("keep1", "keep2"))
  }

  test("fractional weight types fail at call time, not via silent coercion") {
    val docs = Seq(("a", 1L, 4.5)).toDF("source", "doc_id", "tok")
    val e = intercept[IllegalArgumentException] {
      Packing.packByBudget(docs, "doc_id", "tok", Seq("source"), 10L)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("concatChunkIndex: spans, straddling, and zero-weight docs") {
    // chunk 10. Stream a: 4,4,4,12,3 → offsets [0,4) [4,8) [8,12) [12,24) [24,27)
    // doc 3 straddles chunks 0-1; doc 4 straddles 1-2; zero-weight doc 9
    // (inserted between 2 and 3 by id order) occupies nothing.
    val docs = Seq(
      ("a", 1L, 4L), ("a", 2L, 4L), ("a", 9L, 3L), // 9 sorts last in a
      ("a", 3L, 4L), ("a", 4L, 12L),
      ("a", 5L, 0L), // zero-weight: no chunks
      ("b", 7L, 25L) // alone: chunks 0-2
    ).toDF("source", "doc_id", "tok")
    val out = Packing.concatChunkIndex(docs, "doc_id", "tok", Seq("source"), 10L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5),
          if (r.isNullAt(6)) -1L else r.getLong(6), r.getLong(7)))).toMap
    // (start_off, end_off, first_chunk, last_chunk, n_chunks); id order in
    // a: 1,2,3,4,5,9 → offsets 0,4,8,12,24,24
    assert(out(("a", 1L)) == ((0L, 4L, 0L, 0L, 1L)))
    assert(out(("a", 2L)) == ((4L, 8L, 0L, 0L, 1L)))
    assert(out(("a", 3L)) == ((8L, 12L, 0L, 1L, 2L)))   // straddles
    assert(out(("a", 4L)) == ((12L, 24L, 1L, 2L, 2L)))  // straddles
    assert(out(("a", 5L)) == ((24L, 24L, -1L, -1L, 0L))) // zero-weight
    assert(out(("a", 9L)) == ((24L, 27L, 2L, 2L, 1L)))
    assert(out(("b", 7L)) == ((0L, 25L, 0L, 2L, 1L + 2L)))
  }

  test("concatChunkIndex rejects output-name collisions and bad chunk size") {
    val docs = Seq(("a", 1L, 4L)).toDF("source", "doc_id", "tok")
    intercept[IllegalArgumentException] {
      Packing.concatChunkIndex(docs, "doc_id", "tok", Seq("source"), 0L)
    }
    val clash = docs.withColumn("end_off", org.apache.spark.sql.functions.lit(1L))
    val e = intercept[IllegalArgumentException] {
      Packing.concatChunkIndex(clash, "doc_id", "tok", Seq("source"), 10L)
    }
    assert(e.getMessage.contains("end_off"))
  }

  test("packGlobalByBudget: pack ids run globally — equal to single-key " +
    "packing of the concatenated order, packs straddle shard boundaries") {
    // shards 0/1/2 in shard order carry weights (4,4) (4,12) (3,3);
    // global exclusive prefixes 0,4 | 8,12 | 24,27 -> packs 0,0 | 0,1 | 2,2
    // — doc 3 lands in pack 0 WITH docs from shard 0 (the straddle), and
    // shard 1 does not end on an underfull file
    val docs = Seq(
      (0L, 1L, 1L, 4L), (0L, 2L, 2L, 4L),
      (1L, 3L, 1L, 4L), (1L, 4L, 2L, 12L),
      (2L, 5L, 1L, 3L), (2L, 6L, 2L, 3L)
    ).toDF("shard", "doc_id", "pos", "tok")
    val global = Packing.packGlobalByBudget(docs, "shard", "pos", "tok", 10L)
      .collect().map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(global == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L,
      5L -> 2L, 6L -> 2L))
    // control: packByBudget under ONE key over the (shard, pos) total
    // order produces the identical assignment — the two-pass prefix
    // decomposition is exact
    val flat = docs.withColumn("one", org.apache.spark.sql.functions.lit(0))
      .withColumn("ord", org.apache.spark.sql.functions
        .expr("shard * 1000 + pos"))
    val single = Packing.packByBudget(flat, "ord", "tok", Seq("one"), 10L)
      .collect().map(r => r.getLong(1) -> r.getLong(6)).toMap
    assert(single == global)
  }

  test("concatChunkIndexGlobal: token offsets and chunk ids run across " +
    "shard boundaries, equal to single-key indexing of the flat order") {
    val docs = Seq(
      (0L, 1L, 1L, 4L), (0L, 2L, 2L, 4L),
      (1L, 3L, 1L, 4L), (1L, 4L, 2L, 12L),
      (2L, 5L, 1L, 0L), // zero-weight doc: occupies no tokens, no chunks
      (2L, 6L, 2L, 3L)
    ).toDF("shard", "doc_id", "pos", "tok")
    def key(r: org.apache.spark.sql.Row) = r.getLong(1)
    def span(r: org.apache.spark.sql.Row, base: Int) =
      (r.getLong(base), r.getLong(base + 1),
        if (r.isNullAt(base + 2)) -1L else r.getLong(base + 2),
        if (r.isNullAt(base + 3)) -1L else r.getLong(base + 3),
        r.getLong(base + 4))
    val global = Packing
      .concatChunkIndexGlobal(docs, "shard", "pos", "tok", 10L)
      .collect().map(r => key(r) -> span(r, 4)).toMap
    // doc 3 spans [8,12): chunks 0..1 — it STRADDLES the shard-0/1 token
    // boundary's chunk; doc 6 spans [24,27): chunk 2
    assert(global(3L) == ((8L, 12L, 0L, 1L, 2L)))
    assert(global(5L) == ((24L, 24L, -1L, -1L, 0L)))
    assert(global(6L) == ((24L, 27L, 2L, 2L, 1L)))
    val flat = docs.withColumn("one", org.apache.spark.sql.functions.lit(0))
      .withColumn("ord", org.apache.spark.sql.functions
        .expr("shard * 1000 + pos"))
    val single = Packing.concatChunkIndex(flat, "ord", "tok", Seq("one"), 10L)
      .collect().map(r => key(r) -> span(r, 6)).toMap
    assert(single == global)
  }

  test("packGlobalByBudget: empty-shard gaps cost nothing, and the guards " +
    "fail loud (budget, pack_id clash, NULL shard, fractional types)") {
    import org.apache.spark.sql.functions._
    // shard ids 0 and 5 — the sparse numbering must not mint offsets for
    // the holes
    val sparse = Seq((0L, 1L, 1L, 7L), (5L, 2L, 1L, 7L))
      .toDF("shard", "doc_id", "pos", "tok")
    val out = Packing.packGlobalByBudget(sparse, "shard", "pos", "tok", 10L)
      .collect().map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L)) // prefixes 0 and 7, one pack
    intercept[IllegalArgumentException] {
      Packing.packGlobalByBudget(sparse, "shard", "pos", "tok", 0L)
    }
    intercept[IllegalArgumentException] {
      Packing.packGlobalByBudget(sparse.withColumn("pack_id", lit(1L)),
        "shard", "pos", "tok", 10L)
    }
    intercept[IllegalArgumentException] {
      Packing.packGlobalByBudget(
        sparse.withColumn("shard",
          when(col("doc_id") === 1L, lit(null).cast("long"))
            .otherwise(col("shard"))),
        "shard", "pos", "tok", 10L)
    }
    intercept[IllegalArgumentException] {
      Packing.packGlobalByBudget(sparse.withColumn("tok", col("tok") * 0.5),
        "shard", "pos", "tok", 10L)
    }
  }

  test("packBestFit: fullest-that-fits placement (weight DESC, ties " +
    "id ASC; pack ties to the lowest id), oversize docs isolate, " +
    "zero-weight docs join the fullest non-full pack, and BFD beats " +
    "the contiguous policy's padding on the classic fixture") {
    import org.apache.spark.sql.functions.col
    // budget 10; weights 7,6,4,3,2,2 -> BFD packs {7,3} {6,4} {2,2}:
    // zero padding waste in the first two bins. Contiguous order (by
    // id: 7,6,4,3,2,2) packs {7} {6,4} wait exclusive-prefix: cum
    // 0,7,13,17,20,22 -> ids at packs 0,0,1,1,2,2 = {7,6} overflow...
    // the point stays: BFD fill is exact, measured below.
    val rows = Seq((0L, 1L, 7L), (0L, 2L, 6L), (0L, 3L, 4L),
      (0L, 4L, 3L), (0L, 5L, 2L), (0L, 6L, 2L),
      (0L, 7L, 15L), // oversize: own pack, never joined
      (0L, 8L, 0L),  // zero-weight: fullest NON-full pack
      (1L, 1L, 5L), (1L, 2L, 5L)) // second shard: ids restart at pack 0
      .toDF("shard", "doc_id", "n_tok")
    val out = Packing.packBestFit(rows, "shard", "doc_id", "n_tok",
      budget = 10L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    // shard 0 processing order: 15(id7), 7(id1), 6(id2), 4(id3),
    // 3(id4), 2(id5), 2(id6), 0(id8)
    // 15 -> pack 0 (oversize). 7 -> pack 1. 6 -> pack 2. 4 -> fits
    // pack 2 (u=6, fullest that fits) -> {6,4} full. 3 -> pack 1
    // (u=7) -> full. 2 -> pack 3. 2 -> pack 3 (u=2). 0 -> fullest
    // non-full = pack 3 (u=4).
    assert(out == Map(
      (0L, 7L) -> 0L, (0L, 1L) -> 1L, (0L, 2L) -> 2L, (0L, 3L) -> 2L,
      (0L, 4L) -> 1L, (0L, 5L) -> 3L, (0L, 6L) -> 3L, (0L, 8L) -> 3L,
      (1L, 1L) -> 0L, (1L, 2L) -> 0L), s"assignment: $out")
    // fill report: packs 1 and 2 read exactly 10^6 ppm; the BFD fill
    // strictly beats contiguous packing of the same shard-0 list
    val bfdFill = Packing.packFill(
      Packing.packBestFit(rows.filter(col("shard") === 0 &&
        col("doc_id") =!= 7L && col("doc_id") =!= 8L),
        "shard", "doc_id", "n_tok", 10L),
      Seq("shard"), "n_tok", 10L)
      .select("pack_id", "fill_ppm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bfdFill == Map(0L -> 1000000L, 1L -> 1000000L, 2L -> 400000L),
      s"BFD fill: $bfdFill")
    val contFill = Packing.packFill(
      Packing.packByBudget(rows.filter(col("shard") === 0 &&
        col("doc_id") =!= 7L && col("doc_id") =!= 8L),
        "doc_id", "n_tok", Seq("shard"), 10L),
      Seq("shard"), "n_tok", 10L)
      .select("pack_id", "fill_ppm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // contiguous: cum-exclusive 0,7,13,17,20,22 -> packs 0,0,1,1,2,2
    // with fills 13,7,4 -> one overflowing, one underfull
    assert(contFill == Map(0L -> 1300000L, 1L -> 700000L, 2L -> 400000L),
      s"contiguous fill: $contFill")
    // determinism: a reshuffled input assigns identically
    val again = Packing.packBestFit(rows.orderBy(col("n_tok")), "shard",
      "doc_id", "n_tok", budget = 10L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(again == out, "assignment must be order-independent")
    // loud shard ceiling
    intercept[org.apache.spark.SparkException] {
      Packing.packBestFit(rows, "shard", "doc_id", "n_tok", 10L,
        maxShardRows = 3).collect()
    }
    // a negative weight fails loud per shard — it would decrease
    // used() and silently re-open an over-budget pack otherwise
    val neg = intercept[org.apache.spark.SparkException] {
      Packing.packBestFit(
        Seq((0L, 1L, 5L), (0L, 2L, -3L)).toDF("shard", "doc_id", "n_tok"),
        "shard", "doc_id", "n_tok", 10L).collect()
    }
    assert(neg.getMessage.contains("negative weight"), neg.getMessage)
  }

  test("packTokenStreams: per-pack concatenated ids in global order, a " +
    "separator after every document, weights count the separator, " +
    "oversize docs overflow without splitting") {
    import org.apache.spark.sql.functions.col
    // shard 0: docs a(3 ids), b(2), c(5); shard 1: d(1), e(9 — oversize)
    val rows = Seq(
      (0L, 1L, Seq(10L, 11L, 12L)),
      (0L, 2L, Seq(20L, 21L)),
      (0L, 3L, Seq(30L, 31L, 32L, 33L, 34L)),
      (1L, 1L, Seq(40L)),
      (1L, 2L, (0 until 9).map(i => 50L + i))
    ).toDF("shard", "pos", "token_ids")
    // weights (incl. separator 99): 4, 3, 6, 2, 10; global prefix:
    // 0,4,7,13,15 -> budget 8 packs: 0,0,0,1,1
    val out = Packing.packTokenStreams(rows, "shard", "pos", "token_ids",
      budget = 8L, sepId = 99L)
      .orderBy("pack_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2), r.getLong(3)))
    assert(out.length == 2)
    assert(out(0) == ((0L,
      Seq(10L, 11L, 12L, 99L, 20L, 21L, 99L, 30L, 31L, 32L, 33L, 34L, 99L),
      3L, 13L)), s"pack 0 stream wrong: ${out(0)}")
    assert(out(1) == ((1L,
      Seq(40L, 99L) ++ (0 until 9).map(i => 50L + i) :+ 99L,
      2L, 12L)), s"pack 1 stream wrong: ${out(1)}")
    // parity with the assignment operator: same docs per pack_id
    val assign = Packing.packGlobalByBudget(
      rows.withColumn("_w",
        (org.apache.spark.sql.functions.size(col("token_ids")) + 1)
          .cast("long")),
      "shard", "pos", "_w", 8L)
      .select("shard", "pos", "pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(assign == Map((0L, 1L) -> 0L, (0L, 2L) -> 0L, (0L, 3L) -> 0L,
      (1L, 1L) -> 1L, (1L, 2L) -> 1L))
    // doc_offsets (always) and doc_ids (with docIdCol): member k's
    // slice [off_k, off_{k+1}) of token_ids is doc k's ids + separator
    val withOffs = Packing.packTokenStreams(
      rows.withColumnRenamed("pos", "doc_pos"), "shard", "doc_pos",
      "token_ids", budget = 8L, sepId = 99L, docIdCol = Some("doc_pos"))
      .orderBy("pack_id")
      .select("pack_id", "token_ids", "doc_offsets", "doc_ids", "n_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2),
        r.getSeq[Long](3), r.getLong(4)))
    assert(withOffs(0)._3 == Seq(0L, 4L, 7L) &&
      withOffs(0)._4 == Seq(1L, 2L, 3L), s"pack 0: ${withOffs(0)}")
    assert(withOffs(1)._3 == Seq(0L, 2L) &&
      withOffs(1)._4 == Seq(1L, 2L), s"pack 1: ${withOffs(1)}")
    val docIds = Map((0L, 1L) -> Seq(10L, 11L, 12L),
      (0L, 2L) -> Seq(20L, 21L),
      (0L, 3L) -> Seq(30L, 31L, 32L, 33L, 34L),
      (1L, 1L) -> Seq(40L), (1L, 2L) -> (0 until 9).map(i => 50L + i))
    withOffs.foreach { case (pid, toks, offs, ids, nTok) =>
      val bounds = offs :+ nTok
      offs.indices.foreach { k =>
        val slice = toks.slice(bounds(k).toInt, bounds(k + 1).toInt)
        assert(slice == docIds((pid, ids(k))) :+ 99L,
          s"pack $pid member $k slice $slice")
      }
    }
  }

  test("forgetPacks: deleted members' whole spans (separator included) " +
    "mask to padId, identities scrub to -1, every other position and " +
    "the pack shape are byte-identical; untouched packs read 0/0") {
    // globally unique doc ids; budget 8, sep 99 -> packs: shard 0 docs
    // 1,2,3 = pack 0; shard 1 docs 4,5 (5 oversize) = pack 1; shard 2
    // doc 6 = pack 2 (untouched by the deletion)
    val rows = Seq(
      (0L, 1L, Seq(10L, 11L, 12L)),
      (0L, 2L, Seq(20L, 21L)),
      (0L, 3L, Seq(30L, 31L, 32L, 33L, 34L)),
      (1L, 4L, Seq(40L)),
      (1L, 5L, (0 until 9).map(i => 50L + i)),
      (2L, 6L, Seq(60L, 61L))
    ).toDF("shard", "pos", "token_ids")
    val packs = Packing.packTokenStreams(rows, "shard", "pos",
      "token_ids", budget = 8L, sepId = 99L, docIdCol = Some("pos"))
    val dead = Seq(2L, 5L, 4242L).toDF("doc_id") // 4242: never packed
    val out = Packing.forgetPacks(packs, dead, "doc_id", padId = 88L)
      .orderBy("pack_id")
      .select("pack_id", "token_ids", "doc_offsets", "doc_ids",
        "n_tokens", "n_forgotten", "n_masked_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2),
        r.getSeq[Long](3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // pack 0: member 2 spans [4,7) -> its 2 ids + separator masked
    assert(out(0) == ((0L,
      Seq(10L, 11L, 12L, 99L, 88L, 88L, 88L,
        30L, 31L, 32L, 33L, 34L, 99L),
      Seq(0L, 4L, 7L), Seq(1L, -1L, 3L), 13L, 1L, 3L)),
      s"pack 0: ${out(0)}")
    // pack 1: LAST member deleted -> span closes at n_tokens
    assert(out(1) == ((1L,
      Seq(40L, 99L) ++ Seq.fill(10)(88L),
      Seq(0L, 2L), Seq(4L, -1L), 12L, 1L, 10L)),
      s"pack 1: ${out(1)}")
    // global prefix 25 div 8 -> pack id 3: untouched — byte-identical
    // passthrough, 0/0
    assert(out(2) == ((3L, Seq(60L, 61L, 99L), Seq(0L), Seq(6L),
      3L, 0L, 0L)), s"pack 3: ${out(2)}")
    // shape stability: offsets and n_tokens of every pack unchanged
    val before = packs.orderBy("pack_id")
      .select("doc_offsets", "n_tokens").collect()
      .map(r => (r.getSeq[Long](0), r.getLong(1)))
    assert(out.map(o => (o._3, o._5)).toSeq == before.toSeq)
    // fail loud without member identities
    val e = intercept[IllegalArgumentException] {
      Packing.forgetPacks(packs.drop("doc_ids"), dead, "doc_id", 88L)
    }
    assert(e.getMessage.contains("doc_ids"))

    // repackForgotten: same deletion REMOVES the members — surviving
    // slices re-concatenate, offsets/counts recompute, pack ids hold
    val rep = Packing.repackForgotten(packs, dead, "doc_id")
      .orderBy("pack_id")
      .select("pack_id", "token_ids", "doc_offsets", "doc_ids",
        "n_docs", "n_tokens", "n_forgotten", "n_freed_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2),
        r.getSeq[Long](3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    assert(rep(0) == ((0L,
      Seq(10L, 11L, 12L, 99L, 30L, 31L, 32L, 33L, 34L, 99L),
      Seq(0L, 4L), Seq(1L, 3L), 2L, 10L, 1L, 3L)), s"pack 0: ${rep(0)}")
    assert(rep(1) == ((1L, Seq(40L, 99L), Seq(0L), Seq(4L),
      1L, 2L, 1L, 10L)), s"pack 1: ${rep(1)}")
    assert(rep(2) == ((3L, Seq(60L, 61L, 99L), Seq(0L), Seq(6L),
      1L, 3L, 0L, 0L)), s"pack 3: ${rep(2)}")
    // a pack whose every member died vanishes from the output
    val gone = Packing.repackForgotten(packs, Seq(6L).toDF("doc_id"),
      "doc_id").select("pack_id").as[Long].collect().toSet
    assert(gone == Set(0L, 1L))
  }

  test("plan: forget/repack attach the deletion index by BROADCAST — " +
    "the pack payloads must never shuffle on pack_id for the join-back") {
    // deadIdx is deletion-bounded (<= one row per touched pack); before
    // the broadcast the left join planned as SortMergeJoin, moving every
    // pack's token array across an exchange to attach a tiny index
    val rows = Seq(
      (0L, 1L, Seq(10L, 11L)), (0L, 2L, Seq(20L)), (1L, 3L, Seq(30L))
    ).toDF("shard", "pos", "token_ids")
    val packs = Packing.packTokenStreams(rows, "shard", "pos",
      "token_ids", budget = 8L, sepId = 99L, docIdCol = Some("pos"))
      .localCheckpoint(true)
    val dead = Seq(2L).toDF("doc_id")
    for (df <- Seq(Packing.forgetPacks(packs, dead, "doc_id", 88L),
      Packing.repackForgotten(packs, dead, "doc_id"))) {
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!p.contains("SortMergeJoin"),
        s"join-back shuffles pack payloads:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"no broadcast join-back:\n$p")
    }
  }

  test("a deletion list past the forget ceiling fails loud before any " +
    "broadcast; one at the ceiling runs") {
    val rows = Seq((0L, 1L, Seq(10L, 11L)), (1L, 2L, Seq(20L))
    ).toDF("shard", "pos", "token_ids")
    val packs = Packing.packTokenStreams(rows, "shard", "pos",
      "token_ids", budget = 8L, sepId = 99L, docIdCol = Some("pos"))
      .localCheckpoint(true)
    val ceiling = graft.store.ClaimRetraction.MaxRetractIds.toLong
    // duplicates count once: ceiling + 1 distinct ids, 2 rows for id 1
    val over = spark.range(1L, ceiling + 2).union(spark.range(1L, 2L))
      .toDF("doc_id")
    for ((name, run) <- Seq[(String, () => Any)](
        "forgetPacks" -> (() => Packing.forgetPacks(packs, over, "doc_id", 88L)),
        "repackForgotten" -> (() => Packing.repackForgotten(packs, over, "doc_id")))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(s"$name: more than $ceiling distinct deleted ids"),
        e.getMessage)
    }
    val atCeiling = spark.range(1L, ceiling + 1).toDF("doc_id")
    val out = Packing.forgetPacks(packs, atCeiling, "doc_id", 88L)
      .select("pack_id", "n_forgotten").as[(Long, Long)].collect().toMap
    assert(out.values.sum == 2L, out)
  }

  test("locate maps global offsets to pack/position/document — pack " +
    "boundaries, separator attribution, out-of-range fail-loud") {
    import org.apache.spark.sql.functions._
    // two docs in one shard, ordered by pos: doc 1 tokens [10,11]+sep,
    // doc 2 tokens [12]+sep; budget 3 -> pack 0 = doc 1 (len 3),
    // pack 1 = doc 2 (len 2). Global stream: 10,11,sep | 12,sep
    val enc = Seq((1L, 0L, 0L, Seq(10L, 11L)), (2L, 0L, 1L, Seq(12L)))
      .toDF("doc_id", "shard", "pos", "token_ids")
    val packs = Packing.packTokenStreams(enc, "shard", "pos",
      "token_ids", budget = 3L, sepId = 99L, docIdCol = Some("doc_id"))
      .localCheckpoint(true)
    val steps = Seq((0L, 0L), (1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("step", "goff")
    val out = Packing.locate(packs, steps, "step", "goff")
      .orderBy("step")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(out == Seq(
      (0L, 0L, 0L, 0L, 1L, 10L), // pack start
      (1L, 2L, 0L, 2L, 1L, 99L), // doc 1's separator attributes to doc 1
      (2L, 3L, 1L, 0L, 2L, 12L), // first token past the pack boundary
      (3L, 4L, 1L, 1L, 2L, 99L))) // final separator
    val past = intercept[IllegalArgumentException] {
      Packing.locate(packs, Seq((9L, 5L)).toDF("step", "goff"),
        "step", "goff").collect()
    }
    assert(past.getMessage.contains("outside the token stream [0, 5)"))
    val neg = intercept[IllegalArgumentException] {
      Packing.locate(packs, Seq((9L, -1L)).toDF("step", "goff"),
        "step", "goff").collect()
    }
    assert(neg.getMessage.contains("outside"))
  }
}
