package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** End-to-end curation funnel ([[Curation.curate]]): the operator library
  * composed the way a training-data pipeline actually runs it. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")
  // events-derived eval set, like q60: every 25th event replays a document
  private def evalDocs = {
    val d = docs
    Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_id") % 25 === 0)
      .select(col("event_id"), col("user_id"))
      .join(d.select(col("doc_id").as("src_doc"), col("text")),
        col("src_doc") === col("user_id"))
      .select(col("event_id").as("doc_id"), col("text"))
  }

  test("funnel counts are monotone and every stage engages") {
    val (out, r) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500,
      mixRatesMilli = Map("src0" -> 300), mixDefaultMilli = 800,
      packBudget = 256)
    assert(r.nInput > 0)
    assert(r.nInput >= r.nAfterQuality)
    assert(r.nAfterQuality >= r.nAfterExact)
    assert(r.nAfterExact >= r.nAfterNearDup)
    assert(r.nAfterNearDup >= r.nAfterDecontam)
    assert(r.nAfterDecontam >= r.nAfterMix)
    // the synthetic corpus is repetitive word salad: dedup, decontam and
    // mixing must each actually drop something at these settings
    assert(r.nAfterNearDup < r.nAfterExact, "near-dup stage dropped nothing")
    assert(r.nAfterDecontam < r.nAfterNearDup, "decontamination dropped nothing")
    assert(r.nAfterMix < r.nAfterDecontam, "mixing dropped nothing")
    assert(r.nPacks > 0 && r.nPacks <= r.nAfterMix)
    // output carries the curated schema: original columns + n_tokens + pack_id
    assert(out.columns.contains("pack_id") && out.columns.contains("n_tokens"))
    assert(out.count() == r.nAfterMix)
  }

  test("bloom decontamination and temperature mixing slot in equivalently") {
    // bloom path: decontamination survivors identical to the broadcast
    // path (the sketch only changes data movement, never the answer)
    val (outBc, rBc) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256)
    val (outBl, rBl) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256,
      decontamBloomFpp = Some(0.01))
    assert(rBl.nAfterDecontam == rBc.nAfterDecontam)
    assert(outBl.select("doc_id").collect().map(_.getLong(0)).toSet ==
      outBc.select("doc_id").collect().map(_.getLong(0)).toSet)
    // temperature mixing: engages, bounded by the decontam survivors, and
    // wins over a static rate table when both are (mis)configured
    val (_, rT) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256,
      mixRatesMilli = Map("src0" -> 1000), // would keep everything
      temperatureBudget = Some(50L))
    assert(rT.nAfterMix < rT.nAfterDecontam, "temperature mix dropped nothing")
    assert(rT.nAfterMix > 0L)
    // scrub regime: partially-contaminated documents survive scrubbed,
    // FULLY-contaminated ones drop (kept == 0 — an empty-text row would
    // be junk in mixing/packing), and the output schema is unchanged —
    // the operator's audit columns must not leak into the funnel output
    val (outS, rS) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256,
      decontamScrubSpans = Some(8))
    assert(rS.nAfterDecontam <= rS.nAfterNearDup)
    assert(rS.nAfterDecontam < rS.nAfterNearDup,
      "eval replays full documents: the kept==0 gate must engage")
    assert(outS.filter(length(col("text")) === 0).count() == 0L,
      "a fully-scrubbed empty-text row leaked into the funnel output")
    assert(outS.columns.sorted.toSeq == outBc.columns.sorted.toSeq)
    // the eval replay really contaminates: scrub still keeps MORE than
    // the drop regime (partial overlaps survive scrubbed there, dropped
    // here), even after dropping the fully-consumed docs
    assert(rS.nAfterDecontam > rBc.nAfterDecontam)
    // a window longer than every document is a no-op scrub: nothing
    // matches, nothing drops — the gate itself never fires spuriously
    val (_, rNoop) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256,
      decontamScrubSpans = Some(1000000))
    assert(rNoop.nAfterDecontam == rNoop.nAfterNearDup,
      "no-op scrub dropped documents")
  }

  test("LM-quality knob: threshold 0 is a no-op, a maximal threshold " +
    "drops every scored doc and keeps the unscoreable") {
    val ref = Some(graft.functions.TextAnalysis
      .strHash(col("doc_id").cast("string")) % 10 === 0)
    val (_, base) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256)
    // avg_p_ppm >= 0 always, the drop predicate is strict-below
    val (_, noop) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256,
      lmRefFilter = ref, lmMinAvgPpm = 0L)
    assert(noop.nAfterQuality == base.nAfterQuality)
    // add-one smoothing bounds every conditional strictly under 10^6 ppm
    // (c12 <= c1 and V >= 2 here), so this threshold rejects every doc
    // with at least one bigram — survivors are exactly the unscoreable
    val (_, all) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256,
      lmRefFilter = ref, lmMinAvgPpm = 1000000L)
    assert(all.nAfterQuality < noop.nAfterQuality)
    val repCleanUnscoreable = docs.filter(col("text").isNotNull)
      .filter(size(split(trim(col("text")), "\\s+")) < 2).count()
    assert(all.nAfterQuality <= repCleanUnscoreable,
      "a scored document survived the maximal threshold")
  }

  test("curation is deterministic end to end") {
    def run() = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256)._1
      .select("doc_id", "pack_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run() == run())
  }

  test("packs respect the budget except oversize singletons") {
    val (out, _) = Curation.curate(docs, evalDocs, packBudget = 256)
    val packs = out.groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("w"),
        max("n_tokens").as("maxw"))
      .collect()
    packs.foreach { p =>
      val (w, maxw) = (p.getLong(3), p.getLong(4))
      // contiguous-cumulative contract: a pack exceeds the budget only by
      // the straddling (or oversize) document — remove it and the prefix
      // was under budget
      assert(w <= 256 || w - maxw < 256, s"pack $p overflows beyond one doc")
    }
    // and the packing is exhaustive: every curated doc has a pack
    assert(out.filter(col("pack_id").isNull).count() == 0)
  }

  test("output-column clashes fail at call time; null text drops explicitly") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Curation.curate(docs.withColumn("pack_id", lit(1L)), evalDocs)
    }
    // long enough that the 10% top-bigram threshold cannot trip on size
    val okText = (1 to 20).map(i => s"w$i").mkString(" ")
    val withNull = Seq(
      (1L, okText, "s0"),
      (2L, null.asInstanceOf[String], "s0")
    ).toDF("doc_id", "text", "source")
    val (out, r) = Curation.curate(withNull, evalDocs.limit(0))
    assert(r.nInput == 2 && r.nAfterQuality == 1,
      "null-text row must drop at the quality boundary")
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("every kept document survives for a provable reason: no flagged " +
    "pair remains intact") {
    val (out, _) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // no verified near-dup pair has BOTH sides in the curated output
    val pairs = graft.operators.Dedup.minhashPairs(
        docs, "doc_id", "text", thresholdMilli = 500)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(!(kept(a) && kept(b)),
        s"near-dup pair ($a, $b) fully survived curation")
    }
  }

  test("nearDupQualityCol keeps the best copy per cluster, still no " +
    "surviving pair") {
    val (out, _) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, nearDupQualityCol = Some("n_chars"))
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = graft.operators.Dedup.minhashPairs(
        docs, "doc_id", "text", thresholdMilli = 500)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture needs near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(!(kept(a) && kept(b)),
        s"near-dup pair ($a, $b) fully survived curation")
    }
    // the knob engages: the quality-aware survivor set differs from the
    // greedy keep-lowest-id run on the same corpus (n_chars ordering and
    // id ordering disagree on at least one cluster of this fixture)
    val (greedy, _) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500)
    val greedyKept = greedy.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept != greedyKept,
      "quality-aware keep chose the same survivors as greedy — knob inert")
  }

  test("pii redaction and boilerplate scrub slot into the funnel in the " +
    "order that cannot self-destruct") {
    import spark.implicits._
    val boiler = "terms of service apply to all content here" // 8 words
    val custom = Seq(
      (1L, s"$boiler apple banana cherry date", "s0"),
      (2L, s"$boiler quick brown fox jumps", "s0"),
      (3L, boiler, "s0"), // fully boilerplate -> must drop at 2b
      (4L, "totally unrelated words compose this document nine ten eleven", "s0"),
      (5L, "contact alice at a@b.co regarding quarterly report deadline", "s0"),
      (6L, "contact alice at x@y.org regarding quarterly report deadline", "s0")
    ).toDF("doc_id", "text", "source")
    val noEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (out, r) = Curation.curate(custom, noEval,
      piiRedact = true, boilerplateSpan = Some(8),
      // short fixture docs: ~7 bigrams, so one repeat is 143 milli —
      // loosen the repetition gate (and raise the near-dup bar) to
      // isolate the two NEW stages
      repetitionTopBigramMilli = 500,
      nearDupThresholdMilli = 990)
    assert(r.nAfterQuality == 6)
    // 1b+2: docs 5/6 become identical after redaction and FOLD AT EXACT —
    // the reason redaction precedes dedup
    assert(r.nAfterExact == 5, s"redacted twins did not fold (${r.nAfterExact})")
    // 2b: doc 3 is all boilerplate and drops; 1/2 lose the shared header
    assert(r.nAfterBoilerplate == 4,
      s"fully-boilerplate doc survived (${r.nAfterBoilerplate})")
    val texts = out.select("doc_id", "text").collect()
      .map(rr => rr.getLong(0) -> rr.getString(1)).toMap
    assert(texts(1L) == "apple banana cherry date")
    assert(texts(2L) == "quick brown fox jumps")
    assert(texts(5L).contains("<EMAIL>") && !texts(5L).contains("@"))
    assert(!texts.contains(3L) && !texts.contains(6L))
    assert(texts(4L).startsWith("totally unrelated"), "bystander rewritten")
    // control: both knobs off — nothing folds at exact, no boilerplate
    // count, doc 3 survives with its text intact
    val (out0, r0) = Curation.curate(custom, noEval,
      repetitionTopBigramMilli = 500, nearDupThresholdMilli = 990)
    assert(r0.nAfterExact == 6 && r0.nAfterBoilerplate == -1L)
    val t0 = out0.select("doc_id", "text").collect()
      .map(rr => rr.getLong(0) -> rr.getString(1)).toMap
    assert(t0(3L) == boiler)
    assert(t0(5L).contains("a@b.co"))
  }

  test("line-frequency boilerplate knob: whole-line nav chrome dies " +
    "everywhere, fully-chrome docs drop, bystanders stay byte-identical, " +
    "and the knob composes with the span scrub") {
    import spark.implicits._
    val nav = "home about contact" // the repeated whole-line chrome
    val custom = Seq(
      (1L, s"$nav\nalpha beta gamma delta", "s0"),
      (2L, s"$nav\nepsilon zeta eta theta", "s0"),
      (3L, s"$nav\niota kappa lambda mu", "s0"),
      (4L, nav, "s0"), // fully chrome -> must drop at 2b
      (5L, "nu xi omicron pi rho", "s0")
    ).toDF("doc_id", "text", "source")
    val noEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (out, r) = Curation.curate(custom, noEval,
      boilerplateLineReps = Some(3),
      repetitionTopBigramMilli = 600, nearDupThresholdMilli = 990)
    assert(r.nAfterExact == 5)
    assert(r.nAfterBoilerplate == 4,
      s"fully-chrome doc survived (${r.nAfterBoilerplate})")
    val texts = out.select("doc_id", "text").collect()
      .map(rr => rr.getLong(0) -> rr.getString(1)).toMap
    assert(texts(1L) == "alpha beta gamma delta")
    assert(texts(2L) == "epsilon zeta eta theta")
    assert(texts(3L) == "iota kappa lambda mu")
    assert(!texts.contains(4L))
    assert(texts(5L) == "nu xi omicron pi rho") // bystander verbatim
    // both scrub knobs on: the span scrub has no 8-token dup chunk to
    // find here, so the composed stage equals the line-only result
    val (out2, r2) = Curation.curate(custom, noEval,
      boilerplateSpan = Some(8), boilerplateLineReps = Some(3),
      repetitionTopBigramMilli = 600, nearDupThresholdMilli = 990)
    assert(r2.nAfterBoilerplate == 4)
    val t2 = out2.select("doc_id", "text").collect()
      .map(rr => rr.getLong(0) -> rr.getString(1)).toMap
    assert(t2 == texts)
    // knob off: the chrome survives everywhere, no boilerplate count
    val (out0, r0) = Curation.curate(custom, noEval,
      repetitionTopBigramMilli = 600, nearDupThresholdMilli = 990)
    assert(r0.nAfterBoilerplate == -1L)
    assert(out0.filter(col("doc_id") === 4L).count() == 1)
  }

  test("winnow decontamination regime: docs containing an eval run drop, " +
    "clean docs survive, scrub wins the precedence when both are set") {
    import spark.implicits._
    val run = "w1 w2 w3 w4 w5 w6" // >= w+k-1 at the winnow defaults
    val custom = Seq(
      (1L, s"prefix tokens here $run and a suffix", "s0"),
      (2L, "completely unrelated document content nine ten eleven twelve", "s0")
    ).toDF("doc_id", "text", "source")
    val eval = Seq((100L, s"$run extra tail")).toDF("doc_id", "text")
    val (out, r) = Curation.curate(custom, eval,
      decontamWinnowShared = Some(1),
      repetitionTopBigramMilli = 600, nearDupThresholdMilli = 990)
    assert(r.nAfterDecontam == 1, s"winnow probe missed (${r.nAfterDecontam})")
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // precedence: the scrub regime subsumes the drop decision — doc 1
    // survives SCRUBBED (the run masked) instead of dropping
    val (outS, rS) = Curation.curate(custom, eval,
      decontamWinnowShared = Some(1), decontamScrubSpans = Some(6),
      repetitionTopBigramMilli = 600, nearDupThresholdMilli = 990)
    assert(rS.nAfterDecontam == 2, "scrub must win the precedence")
    val t1 = outS.filter(col("doc_id") === 1L).select("text")
      .head().getString(0)
    assert(!t1.contains("w1") && t1.contains("prefix"),
      s"run not masked under scrub: $t1")
  }

  test("winnow-SCRUB decontamination regime: the matched span is masked " +
    "and the doc survives; bystander byte-identical; precedence sits " +
    "between the exact-window scrub and the winnow drop") {
    import spark.implicits._
    val run = "w1 w2 w3 w4 w5 w6 w7 w8"
    val custom = Seq(
      (1L, s"prefix tokens here $run and a suffix", "s0"),
      (2L, "completely unrelated document content nine ten eleven twelve", "s0")
    ).toDF("doc_id", "text", "source")
    val eval = Seq((100L, s"$run extra tail")).toDF("doc_id", "text")
    val (out, r) = Curation.curate(custom, eval,
      decontamWinnowScrub = Some(1),
      repetitionTopBigramMilli = 600, nearDupThresholdMilli = 990)
    assert(r.nAfterDecontam == 2,
      s"winnow scrub must keep the rewritten doc (${r.nAfterDecontam})")
    val t = out.select("doc_id", "text").collect()
      .map(rr => rr.getLong(0) -> rr.getString(1)).toMap
    assert(!t(1L).contains("w3") && t(1L).startsWith("prefix"),
      s"run interior not masked: ${t(1L)}")
    assert(t(2L) ==
      "completely unrelated document content nine ten eleven twelve")
    // precedence: winnow-scrub beats winnow-drop when both are set
    val (_, r2) = Curation.curate(custom, eval,
      decontamWinnowScrub = Some(1), decontamWinnowShared = Some(1),
      repetitionTopBigramMilli = 600, nearDupThresholdMilli = 990)
    assert(r2.nAfterDecontam == 2, "winnow-scrub must win over the drop")
    // ...and the exact-window scrub beats winnow-scrub
    val (outS, _) = Curation.curate(custom, eval,
      decontamWinnowScrub = Some(1), decontamScrubSpans = Some(6),
      repetitionTopBigramMilli = 600, nearDupThresholdMilli = 990)
    val t1 = outS.filter(col("doc_id") === 1L).select("text")
      .head().getString(0)
    assert(!t1.contains("w1"), s"exact scrub must mask the full run: $t1")
  }

  test("BPE-denominated packing: with bpeMerges the funnel's n_tokens " +
    "and pack budget count exact BPE pieces (the trainer's unit), not " +
    "whitespace tokens") {
    import spark.implicits._
    val custom = Seq(
      (1L, "aa bb cc dd", "s0"),
      (2L, "ee ff gg", "s0"),
      (3L, "aa cc ee gg bb ff", "s0")
    ).toDF("doc_id", "text", "source")
    val noEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val merges = graft.operators.Bpe.train(custom, "text", numMerges = 8)
    val want = graft.operators.Bpe.pieceCounts(custom, "doc_id", "text",
      merges).select("doc_id", "n_pieces").as[(Long, Long)].collect().toMap
    val (out, _) = Curation.curate(custom, noEval,
      repetitionTopBigramMilli = 1001, repetitionDupTrigramMilli = 1001,
      nearDupThresholdMilli = 999,
      bpeMerges = Some(merges), packBudget = 4)
    val got = out.select("doc_id", "n_tokens").as[(Long, Long)]
      .collect().toMap
    assert(got == want, s"funnel n_tokens not BPE-denominated: $got vs $want")
    // pack assignment follows the BPE cumulative sum at budget 4
    val packs = out.select("doc_id", "pack_id").as[(Long, Long)]
      .collect().toMap
    val order = out.select("doc_id").collect().map(_.getLong(0))
    assert(packs.values.toSet.size >= 2,
      s"BPE budget 4 must split ${want.values.sum} pieces into packs: $packs")
  }

  test("URL gate: blocklist hits and link-farm densities drop FIRST; " +
    "gate off by default; bystanders with clean links survive") {
    import spark.implicits._
    val custom = Seq(
      (1L, "clean document with plain words one two three four", "s0"),
      (2L, "see http://fine.example.com/page for useful details here", "s0"),
      (3L, "spam here http://track.SPAM.net/x buy now cheap stuff", "s0"),
      // 4 urls / 5 tokens -> density 800
      (4L, "http://a.io/1 http://a.io/2 http://a.io/3 http://a.io/4 x", "s0")
    ).toDF("doc_id", "text", "source")
    val noEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (out, r) = Curation.curate(custom, noEval,
      urlBlocklist = Seq("spam.net"), maxLinkDensityMilli = Some(500),
      repetitionTopBigramMilli = 1000)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), s"URL gate kept wrong docs: $kept")
    assert(r.nAfterUrlGate == 2, s"gate count wrong (${r.nAfterUrlGate})")
    // gate off: everything flows through and no count is reported
    val (out0, r0) = Curation.curate(custom, noEval,
      repetitionTopBigramMilli = 1000)
    assert(out0.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L, 4L))
    assert(r0.nAfterUrlGate == -1L)
  }

  test("classifier gate: frozen-weight drop in the quality stage, " +
    "counted in the report; off by default") {
    import spark.implicits._
    val custom = Seq(
      (1L, "alpha beta gamma alpha beta words", "s0"),
      (2L, "uno dos tres cuatro uno dos", "s0"),
      (3L, "alpha uno beta dos gamma tres", "s0")) // balanced -> 0
      .toDF("doc_id", "text", "source")
    val noEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // weight artifact through the operator's own hash: the es-like
    // vocabulary is negative evidence, the en-like one positive
    val b = 1024
    val bkt = Seq("alpha", "beta", "gamma", "uno", "dos", "tres", "cuatro")
      .toDF("w")
      .select(col("w"),
        (graft.functions.TextAnalysis.strHash(col("w")) % b).cast("int")
          .as("bb"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val w = IndexedSeq.tabulate(b) { i =>
      if (Seq("alpha", "beta", "gamma").exists(bkt(_) == i)) 500L
      else if (Seq("uno", "dos", "tres", "cuatro").exists(bkt(_) == i)) -500L
      else 0L
    }
    val (out, r) = Curation.curate(custom, noEval,
      classifierWeights = Some(w), repetitionTopBigramMilli = 1000)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // doc2 is pure negative evidence -> drops; doc3 balances to 0 -> keeps
    assert(kept == Set(1L, 3L), s"classifier gate kept wrong docs: $kept")
    assert(r.nAfterClassifier == 2,
      s"classifier count wrong (${r.nAfterClassifier})")
    // gate off: everything flows, no count reported
    val (out0, r0) = Curation.curate(custom, noEval,
      repetitionTopBigramMilli = 1000)
    assert(out0.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L))
    assert(r0.nAfterClassifier == -1L)
  }

  test("domain cap stage: caps per registered domain over the " +
    "decontaminated pool; no-URL docs exempt; off by default") {
    import spark.implicits._
    val custom = ((1L to 8L).map(i =>
      (i, s"completely distinct content number $i about topic$i " +
        s"widget${i * 7} gizmo${i * 13} http://big.example.com/page$i",
        "s0")) ++ Seq((20L, "plain document with no links at all", "s0")))
      .toDF("doc_id", "text", "source")
    val noEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (out, r) = Curation.curate(custom, noEval,
      domainCap = Some(3), repetitionTopBigramMilli = 1000)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.size == 4, s"3 capped + 1 exempt expected, got $kept")
    assert(kept.contains(20L), "the no-URL doc must be exempt")
    assert(r.nAfterDomainCap == 4, s"cap count ${r.nAfterDomainCap}")
    // the survivors are exactly the operator's own selection
    val sel = graft.operators.Urls.perDomainCap(custom, "doc_id", "text", 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == sel, "funnel stage diverged from the q106 operator")
    // off by default
    val (out0, r0) = Curation.curate(custom, noEval,
      repetitionTopBigramMilli = 1000)
    assert(out0.count() == 9 && r0.nAfterDomainCap == -1L)
  }

  test("DSIR sampling stage: engages over the decontaminated pool, wins " +
    "precedence over temperature and rates, keeps the funnel schema, " +
    "and skews the kept set toward the target slice") {
    // target slice: english documents — the q99/q103 fixture shape
    val target = docs.filter(col("lang") === "en").select(col("text"))
    val (outD, rD) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256,
      mixRatesMilli = Map("src0" -> 1000), // would keep everything
      temperatureBudget = Some(1000000L),  // would keep everything
      dsirTarget = Some(target), dsirBudget = 15L)
    assert(rD.nAfterMix < rD.nAfterDecontam, "dsir sampling dropped nothing")
    assert(rD.nAfterMix > 0L)
    // expected kept ~= budget (ppm-gate variance allows generous slack)
    assert(math.abs(rD.nAfterMix - 15L) <= 15L,
      s"kept ${rD.nAfterMix} strays too far from the budget of 15")
    // audit columns must not leak into the funnel output
    val (outBase, _) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256)
    assert(outD.columns.sorted.toSeq == outBase.columns.sorted.toSeq)
    // direction: the kept pool's english share must not fall below the
    // decontaminated pool's (importance weights favor the target slice)
    val keptEn = outD.filter(col("lang") === "en").count().toDouble /
      math.max(1L, outD.count())
    info(f"kept english share: $keptEn%.2f")
    assert(keptEn > 0.0, "the sampler kept no target-like documents")
    // determinism end to end
    val (outD2, rD2) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256,
      dsirTarget = Some(target), dsirBudget = 15L)
    assert(rD2.nAfterMix == rD.nAfterMix)
    assert(outD2.select("doc_id").collect().map(_.getLong(0)).toSet ==
      outD.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("recipe mixing stage: the explicit water-filling plan wins " +
    "precedence over every other mixer, keeps an oversubscribed " +
    "source WHOLE (rate saturates at 1.0), and stays deterministic") {
    // src0 wants half the token budget against a stock the budget
    // exceeds — it must saturate (every surviving src0 doc kept); the
    // other 19 sources split the redistributed remainder thinly
    val recipe: Map[String, Long] = Map("src0" -> 500000L) ++
      (1 to 19).map(i => s"src$i" -> 26316L)
    val target = docs.filter(col("lang") === "en").select(col("text"))
    val (outR, rR) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256,
      mixRatesMilli = Map("src0" -> 1000), // would keep everything
      temperatureBudget = Some(1000000L),  // would keep everything
      dsirTarget = Some(target), dsirBudget = 1000000L, // ditto
      mixRecipe = Some(recipe), mixBudgetTokens = 4000L)
    assert(rR.nAfterMix < rR.nAfterDecontam,
      "the recipe gate dropped nothing — precedence did not engage")
    assert(rR.nAfterMix > 0L)
    // the saturated source survives whole: every src0 doc alive after
    // the cap stage is in the output
    val (outBase, _) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256)
    val src0Pool = outBase.filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val src0Kept = outR.filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(src0Kept == src0Pool,
      s"saturated src0 lost docs: kept ${src0Kept.size} of ${src0Pool.size}")
    assert(outR.columns.sorted.toSeq == outBase.columns.sorted.toSeq)
    val (outR2, rR2) = Curation.curate(docs, evalDocs,
      nearDupThresholdMilli = 500, packBudget = 256,
      mixRecipe = Some(recipe), mixBudgetTokens = 4000L)
    assert(rR2.nAfterMix == rR.nAfterMix)
    assert(outR2.select("doc_id").collect().map(_.getLong(0)).toSet ==
      outR.select("doc_id").collect().map(_.getLong(0)).toSet)
  }
}
