package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Winnowing fingerprints ([[Winnow.fingerprints]]): the MOSS selection
  * rule, its detection guarantee, the tie-to-rightmost convention, and the
  * coordinates-only scale shape. */
class WinnowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("detection guarantee: documents sharing a run of >= w+k-1 tokens " +
    "share at least one selected fingerprint (k=3, w=4 -> run 6)") {
    val run = "q1 q2 q3 q4 q5 q6"
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon"),
      (2L, s"one two $run three four five six seven"),
      (3L, "totally different content with no shared run at all here")
    ).toDF("doc_id", "text")
    val fp = Winnow.fingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def fps(id: Long) = fp.filter(_._1 == id).map(_._2)
    assert((fps(1L) & fps(2L)).nonEmpty,
      "shared 6-token run must yield a shared fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "no shared grams -> no shared fingerprints on this fixture")
  }

  test("ties select the RIGHTMOST minimal hash: a window of identical " +
    "grams fingerprints its last position") {
    // k=1, w=4 over four identical tokens: one full window, all four
    // grams hash equal -> the pack picks p=3
    val docs = Seq((1L, "x x x x")).toDF("doc_id", "text")
    val out = Winnow.fingerprints(docs, "doc_id", "text", k = 1, w = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.length == 1 && out.head._1 == 3L,
      s"rightmost-minimal rule violated: ${out.toSeq}")
  }

  test("short documents still fingerprint (whole-document window); " +
    "sub-k documents emit nothing; every fingerprintable doc appears") {
    val docs = Seq(
      (1L, "a b c"),          // 3 grams at k=1 < w=10 -> 1 selection
      (2L, "a b"),            // k=3: too short -> nothing
      (3L, "p q r s t u v w") // >= k -> appears
    ).toDF("doc_id", "text")
    val short = Winnow.fingerprints(docs.filter(col("doc_id") === 1L),
      "doc_id", "text", k = 1, w = 10).collect()
    assert(short.length == 1)
    val dflt = Winnow.fingerprints(docs, "doc_id", "text")
    val ids = dflt.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L), s"got $ids")
  }

  test("deterministic and partitioning-invariant; selection density is " +
    "bounded by full windows") {
    val docs = (1L to 30L)
      .map(i => (i, (1 to 40).map(j => s"w${(i * 7 + j * 13) % 17}")
        .mkString(" ")))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Winnow.fingerprints(df, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val base = run(docs)
    assert(run(docs.repartition(7, col("text"))) == base)
    // 40 tokens -> 38 grams -> 35 full windows; distinct selections per
    // doc can never exceed that
    assert(base.groupBy(_._1).forall(_._2.size <= 35))
    assert(base.nonEmpty)
  }

  test("flaggedOverlap: the detection floor transfers — a train doc " +
    "containing an eval run of >= w+k-1 tokens is flagged; bystanders " +
    "are not; minShared gates") {
    val run = "e1 e2 e3 e4 e5 e6" // w+k-1 = 6 at defaults
    val eval = Seq((100L, s"$run tail piece here")).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"prefix words $run suffix words"),  // contains the run
      (2L, "no overlap with anything evaluated here at all today"),
      (3L, s"only e1 e2 e3 partially shared")   // 3-token sub-run: may
    ).toDF("doc_id", "text")                    // share a gram, not the run
    val flagged = Winnow.flaggedOverlap(train, eval, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(1L), "guarantee: the full-run doc must flag")
    assert(!flagged.contains(2L), "clean bystander flagged")
    // a high bar unflags the partial sharer but keeps the full run iff
    // it selected that many distinct shared fps — only assert monotone
    val strict = Winnow.flaggedOverlap(train, eval, "doc_id", "text",
      minShared = 100).collect()
    assert(strict.isEmpty, "no doc shares 100 fingerprints here")
    intercept[IllegalArgumentException] {
      Winnow.flaggedOverlap(train, eval, "doc_id", "text", minShared = 0)
    }
  }

  test("overlapSpans: aligned offsets carry a constant delta across a " +
    "planted copied run; below-bar pairs emit nothing") {
    val run = "e1 e2 e3 e4 e5 e6 e7 e8" // long run -> several shared fps
    val eval = Seq((100L, s"$run closing words here")).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"aa bb $run cc dd"),   // the run sits at token offset 2
      (2L, "nothing shared at all in this one today")
    ).toDF("doc_id", "text")
    val rows = Winnow.overlapSpans(train, eval, "doc_id", "text",
      minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty, "planted run produced no alignment")
    assert(rows.forall(_._1 == 1L) && rows.forall(_._2 == 100L))
    // every aligned fingerprint inside the run sits exactly 2 tokens
    // later in the train doc — the constant delta IS the copied span
    assert(rows.forall { case (_, _, t, e) => t - e == 2L },
      s"non-constant alignment delta: ${rows.toSeq}")
    // a bar above the pair's shared count silences it
    assert(Winnow.overlapSpans(train, eval, "doc_id", "text",
      minShared = 100).isEmpty)
  }

  test("matchedSpans: a planted copied run collapses to one span at its " +
    "delta, inside the run's token range, with multi-fp support") {
    val run = "e1 e2 e3 e4 e5 e6 e7 e8"
    val eval = Seq((100L, s"$run closing words here")).toDF("doc_id", "text")
    val train = Seq((1L, s"aa bb $run cc dd")).toDF("doc_id", "text")
    val spans = Winnow.matchedSpans(train, eval, "doc_id", "text",
      minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(spans.length == 1, s"expected one span: ${spans.toSeq}")
    val (tid, eid, delta, t0, t1, nf) = spans.head
    assert(tid == 1L && eid == 100L && delta == 2L)
    // the run occupies train tokens [2, 9]; the span (selected grams
    // + k-1 tail) must sit inside it and carry >= 2 fingerprints
    assert(t0 >= 2L && t1 <= 9L && t0 <= t1, s"span [$t0,$t1] escapes run")
    assert(nf >= 2L)
  }

  test("measured density on the real corpus: selections land near the " +
    "paper's 2/(w+1) of grams (w=4 -> 40%), never above full windows") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val grams = docs
      .select(graft.functions.TextAnalysis.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .agg(sum(size(col("t")) - 2)).head().getLong(0)
    val sels = Winnow.fingerprints(docs, "doc_id", "text").count()
    val density = sels.toDouble / grams
    // the 2/(w+1) expectation is for random hashes; real token streams
    // repeat grams (repeated minima dedup), so allow a wide band around
    // 0.4 and pin both directions
    assert(density > 0.25 && density < 0.55,
      s"density $density ($sels/$grams) outside the winnowing regime")
  }

  // JVM twins of the 31-bit polynomial family (PolyHashSpec pins the
  // column expressions to this arithmetic)
  private def poly(mult: Int)(s: String): Long = {
    var x = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      x = (x * mult + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    x
  }

  test("hash-width parity: the planted-copy detection verdicts agree " +
    "between the 31-bit tier and the 62-bit default — flagged sets " +
    "equal, both spans inside the planted run") {
    val run = "e1 e2 e3 e4 e5 e6 e7 e8"
    val eval = Seq((100L, s"$run closing words here")).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"aa bb $run cc dd"),
      (2L, "nothing shared at all in this one today")
    ).toDF("doc_id", "text")
    def flagged(bits: Int) = Winnow.flaggedOverlap(train, eval, "doc_id",
      "text", minShared = 2, hashBits = bits)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged(31) == Set(1L) && flagged(62) == Set(1L))
    def span(bits: Int) = Winnow.matchedSpans(train, eval, "doc_id",
      "text", minShared = 2, hashBits = bits)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    Seq(31, 62).foreach { bits =>
      val sp = span(bits)
      assert(sp.length == 1, s"$bits-bit: ${sp.toSeq}")
      val (delta, t0, t1) = sp.head
      // selections differ between hash families (selection is
      // hash-value-dependent), but both spans must sit inside the
      // planted run at its delta — the guarantee is family-independent
      assert(delta == 2L && t0 >= 2L && t1 <= 9L,
        s"$bits-bit span [$t0,$t1]@$delta escapes the planted run")
    }
  }

  test("the 62-bit default fixes a REAL 31-bit birthday collision: two " +
    "different tokens with equal 31-bit polyhash false-share a " +
    "fingerprint at 31 bits and do not at 62") {
    // search the token family 'tN' for a genuine 31-bit collision pair
    val h31 = poly(31) _
    val seen = scala.collection.mutable.HashMap.empty[Long, String]
    var pair: Option[(String, String)] = None
    var i = 0
    while (pair.isEmpty) { // birthday on 2^31: expected ~2^16 draws
      val t = "t" + java.lang.Long.toString(i.toLong, 36)
      val h = h31(t)
      seen.get(h) match {
        case Some(prev) if prev != t => pair = Some((prev, t))
        case _ => seen(h) = t
      }
      i += 1
    }
    val (a, b) = pair.get
    assert(h31(a) == h31(b) && a != b)
    // precondition: the wide key separates them (h37 differs)
    assert(poly(37)(a) != poly(37)(b), "pathological double collision")
    val train = Seq((1L, a)).toDF("doc_id", "text")
    val eval = Seq((100L, b)).toDF("doc_id", "text")
    // k=1 (single-token grams), w=1 (every gram selected)
    def shared(bits: Int) = Winnow.flaggedOverlap(train, eval, "doc_id",
      "text", k = 1, w = 1, minShared = 1, hashBits = bits).count()
    assert(shared(31) == 1L,
      s"collision pair ($a,$b) must false-flag at 31 bits")
    assert(shared(62) == 0L,
      s"the wide key must separate the collision pair ($a,$b)")
  }

  test("scrubMatchedSpans: the planted copy is masked out, the " +
    "bystander doc passes BYTE-identical (odd whitespace included), a " +
    "fully-contaminated doc scrubs to empty, overlapping spans from " +
    "two eval docs union correctly") {
    val run = "e1 e2 e3 e4 e5 e6 e7 e8"
    val eval = Seq(
      (100L, s"$run closing words here"),
      (101L, "e5 e6 e7 e8 x1 x2 x3 x4") // overlaps 100's tail in doc 1
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"aa bb $run cc dd"),
      (2L, "nothing  shared\tat all\nin this one today"), // odd whitespace
      (3L, run) // the whole doc IS the run
    ).toDF("doc_id", "text")
    val out = Winnow.scrubMatchedSpans(train, eval, "doc_id", "text",
      minShared = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3), r.getLong(4)))).toMap
    // bystander: byte-identical, zero removals, zero spans
    assert(out(2L) ==
      (("nothing  shared\tat all\nin this one today", 0L, 0L)))
    // doc 1: the run (and anything the overlapping eval 101 adds) is
    // masked; the surrounding tokens survive in order
    val (t1, rm1, sp1) = out(1L)
    assert(sp1 >= 1L && rm1 >= 6L, s"doc 1 under-scrubbed: $rm1/$sp1")
    assert(!t1.contains("e3") && !t1.contains("e6"), s"run survived: $t1")
    assert(t1.startsWith("aa bb") && t1.endsWith("cc dd"),
      s"bystander tokens lost: $t1")
    // doc 3 (the whole doc IS the run): the evidence span is
    // [min selected fp, max selected fp + k - 1] — boundary tokens
    // OUTSIDE the selected fingerprints may survive (the winnow tier's
    // detection-floor semantics; the exact-window scrub is the
    // full-extent regime). The interior must go; survivors can only be
    // run-boundary tokens.
    val (t3, rm3, _) = out(3L)
    val survivors3 = graft.functions.TextAnalysis.jvmTokens(t3)
      .filter(_.nonEmpty).toSet
    assert(rm3 >= 6L, s"full-copy doc under-scrubbed: removed=$rm3")
    assert(survivors3.subsetOf(Set("e1", "e2", "e7", "e8")),
      s"interior tokens survived the span: '$t3'")
  }

  test("evalContamination: per-eval rollup counts the copying train " +
    "docs and the exact token-coverage of the span UNION; clean eval " +
    "docs are absent") {
    val run = "e1 e2 e3 e4 e5 e6 e7 e8"
    val eval = Seq(
      (100L, s"$run closing words here"), // 11 tokens, run at [0,7]
      (101L, "totally clean eval document nothing copies")
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"aa bb $run cc dd"),
      (2L, s"$run tail"), // a second copier of the same eval run
      (3L, "nothing shared at all in this one today")
    ).toDF("doc_id", "text")
    val out = Winnow.evalContamination(train, eval, "doc_id", "text",
      minShared = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(out.keySet == Set(100L), s"clean eval doc must be absent: $out")
    val (nTrain, nSpans, covered, nTok, milli) = out(100L)
    assert(nTrain == 2L, s"both copiers must count: $nTrain")
    assert(nSpans >= 2L)
    assert(nTok == 11L)
    // the span union sits inside the run's eval range [0, 7]
    assert(covered >= 4L && covered <= 8L,
      s"coverage $covered escapes the run")
    assert(milli == covered * 1000 / 11, s"per-mille arithmetic: $milli")
  }

  test("plan shape: the selection rides the scan — no window operator, " +
    "no exchange, text never leaves the scan stage") {
    // (formerly: "the per-document window sees coordinates only" — the
    // in-scan WinnowSelect expression removed the window AND its
    // exchange outright; the stronger property is pinned here and the
    // executed-plan twin below)
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val plan = Winnow.fingerprints(docs, "doc_id", "text")
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty,
      s"fingerprints should not plan a window operator any more: $plan")
  }

  test("WinnowSelect parity: the in-scan selection expression is " +
    "bit-identical to the legacy explode + per-document window + packed " +
    "MIN formulation, at both hash widths, on the real corpus") {
    // the legacy formulation, verbatim (the pre-optimization
    // fingerprints body): grams exploded, packed (h, inv_p) key, w-frame
    // MIN + count, full-window/short-doc filter, distinct
    import graft.functions.TextAnalysis.{tokens, strHash, wideStrHash}
    import org.apache.spark.sql.expressions.Window
    def legacy(docs: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, k: Int, w: Int,
               wide: Boolean): org.apache.spark.sql.DataFrame = {
      val M = Winnow.MaxGramsPerDoc
      val hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (wide) wideStrHash else strHash
      val grams = docs
        .select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
        .filter(size(col("t")) >= k)
        .select(col("id"), posexplode(
          transform(sequence(lit(1), size(col("t")) - (k - 1)),
            i => hashFn(concat_ws(" ", slice(col("t"), i, lit(k))))))
          .as(Seq("p", "h")))
      val packed =
        if (wide) grams.withColumn("_pk", struct(col("h").as("h"),
          (lit(M) - col("p")).as("ip")))
        else grams.withColumn("_pk",
          col("h") * (M + 1) + (lit(M) - col("p")))
      val frame = Window.partitionBy("id").orderBy(col("p"))
        .rowsBetween(Window.currentRow, w - 1)
      val selected = packed
        .withColumn("_mk", min(col("_pk")).over(frame))
        .withColumn("_cnt", count(lit(1)).over(frame))
        .filter(col("_cnt") === w || (col("p") === 0 && col("_cnt") < w))
        .select(col("id"), col("_mk")).distinct()
      if (wide) selected.select(col("id").as(idCol),
        (lit(M) - col("_mk").getField("ip")).cast("long").as("pos"),
        col("_mk").getField("h").as("fp"))
      else selected.select(col("id").as(idCol),
        (lit(M) - col("_mk") % (M + 1)).cast("long").as("pos"),
        call_function("div", col("_mk"), lit((M + 1).toLong)).as("fp"))
    }
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // edge fixtures: short docs (single whole-doc window), ties, nulls
    val edge = Seq(
      (9001L, "a b c"),                     // exactly one gram
      (9002L, "a b c d"),                   // m=2 < w
      (9003L, "x x x x x x x x"),           // all-tie grams
      (9004L, null.asInstanceOf[String]),   // null text
      (9005L, "one two")                    // no grams at all
    ).toDF("doc_id", "text")
    for (wide <- Seq(true, false); df <- Seq(docs, edge)) {
      val hb = if (wide) 62 else 31
      val got = Winnow.fingerprints(df, "doc_id", "text", k = 3, w = 4,
        hashBits = hb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val want = legacy(df, "doc_id", "text", k = 3, w = 4, wide)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == want,
        s"wide=$wide: expression selection diverged from the window " +
          s"formulation (got ${got.size} rows, want ${want.size}; " +
          s"diff ${(got diff want).take(5)} / ${(want diff got).take(5)})")
    }
  }

  test("WinnowSelect: zero exchanges in the fingerprints plan — the " +
    "selection rides the scan") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Winnow.fingerprints(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"fingerprints should be exchange-free, got:\n$plan")
  }

  test("WinnowSelect: evaluated exactly ONCE in the executed plan — " +
    "InferFiltersFromGenerate must not duplicate the expensive pass") {
    // the round-17 plans shipped with the inferred
    // size(winnow_select)>0 AND isnotnull(winnow_select) filter below
    // the Generate: the full tokenize+hash+winnow pass ran up to 3×
    // per document. The outer-explode form makes the duplication
    // impossible; this pin keeps it that way.
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Winnow.fingerprints(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val n = "winnow_select".r.findAllMatchIn(plan).length
    assert(n == 1,
      s"winnow_select appears $n times in the executed plan:\n$plan")
  }
}
