package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis._

/** Document deduplication suite for the training-data pipeline: exact
  * (normalized-hash groupBy), n-gram Jaccard with blocking, MinHash+LSH
  * (shingle → signature → band → bucket-join → exact verify), and SimHash
  * signatures. Everything is deterministic arithmetic on Catalyst built-ins,
  * so each stage has a DuckDB oracle twin.
  *
  * Scale notes (the 100 TB story):
  *  - exact dedup is one hash-aggregate shuffle on the normalized key — at
  *    scale, group on a 64-bit hash of the text, not the text itself, so the
  *    shuffle carries 8-byte keys (`exactGroups` keeps the text key only
  *    because the oracle needs string equality semantics).
  *  - n-gram Jaccard's all-pairs join is quadratic; `blockCols` (here:
  *    source) stands in for any honest blocking policy. MinHash/LSH is the
  *    scale path: linear in corpus size, pairs only form inside equal
  *    4-row band buckets.
  *  - the final exact-verify join only touches LSH candidates, so its cost
  *    is proportional to the (tiny) candidate set, not n².
  */
object Dedup {

  /** Normalization for exact dedup: lowercase, strip non-alphanumerics,
    * collapse whitespace. */
  def normalized(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Exact duplicate groups over the normalized text: canonical id = min id,
    * plus the copy count. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(normalized(col(textCol)).as("norm_text"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select("canonical_id", "n_copies")

  /** [[exactGroups]] at 100 TB: group on the 62-bit WIDE HASH of the
    * normalized text, so the aggregation exchange carries (8-byte key,
    * id) rows instead of full document strings — the migration
    * SCALE.md's hash-width policy documents for q21's scale note. Same
    * output contract as [[exactGroups]] whenever the hash is
    * collision-free over the corpus's distinct normalized texts
    * (expected: 2⁻⁶² per pair, birthday-safe to ~2³¹ distinct texts —
    * and [[verifyHashGroups]] is the cheap audit that CHECKS it instead
    * of assuming). */
  def exactGroupsHashed(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    docs
      .groupBy(graft.functions.TextAnalysis
        .wideStrHash(normalized(col(textCol))).as("_h"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select("canonical_id", "n_copies")
  }

  /** The verify pass for [[exactGroupsHashed]]: the number of hash keys
    * whose group contains MORE THAN ONE distinct normalized text — 0
    * means the hashed grouping was exact on this corpus; a nonzero
    * count names the (astronomically unlikely) collisions so the run
    * can fall back to string grouping for those keys. One extra
    * aggregation over (hash, distinct-normalized-text) pairs; the texts
    * that ride it are one per DISTINCT (hash, text), not per row. */
  def verifyHashGroups(docs: DataFrame, textCol: String): Long = {
    docs
      .select(graft.functions.TextAnalysis
        .wideStrHash(normalized(col(textCol))).as("_h"),
        normalized(col(textCol)).as("_n"))
      .distinct()
      .groupBy("_h").agg(count(lit(1)).as("_texts"))
      .filter(col("_texts") > 1)
      .count()
  }

  /** (id, g) distinct word-3-gram shingles per document, generated by the
    * native codegen'd [[graft.functions.WordShingleSet]] expression (one
    * tight loop per document; the HOF transform/concat_ws formulation stays
    * interpreted and re-evaluates the tokenizer per gram — observed 5×
    * slower at sf0.1). The dedup happens INSIDE the expression: gram
    * duplicates only ever occur within one document (id is part of every
    * consumer's key), so a global `.distinct()` would shuffle the whole
    * exploded corpus to do row-local work. This relation involves no
    * exchange at all. Output strings are byte-identical to the
    * explode-then-distinct form, so the DuckDB oracle twins are unaffected.
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               extraCols: Seq[String] = Nil): DataFrame = {
    val grams = graft.functions.WordShingleSet(col(textCol))
    docs
      .select((col(idCol).as("id") +: extraCols.map(col)) :+ explode(grams).as("g"): _*)
  }

  /** (id[, extras], sz, g) exploded shingles where `sz` — the document's
    * distinct-shingle count — is computed at scan time from the gram array
    * (`size` before the explode). Carrying the 8-byte count on every
    * exploded row is what lets every Jaccard consumer skip the
    * sizes-groupBy shuffle AND the two size-lookup joins entirely. */
  private[operators] def shinglesWithSize(docs: DataFrame, idCol: String,
                                          textCol: String,
                                          extraCols: Seq[String] = Nil): DataFrame = {
    val grams = graft.functions.WordShingleSet(col(textCol))
    docs
      .select((col(idCol).as("id") +: extraCols.map(col)) :+ grams.as("gs"): _*)
      .select((col("id") +: extraCols.map(col) :+ size(col("gs")).cast("long").as("sz")) :+
        explode(col("gs")).as("g"): _*)
  }

  /** All-pairs n-gram Jaccard within blocks: pairs with jaccard ≥ threshold.
    * Output: id_a, id_b, common, sz_a, sz_b, jaccard. The threshold compare
    * is exact integer arithmetic (common·1000 ≥ t·(union)); the reported
    * jaccard double derives from the same integers.
    *
    * Plan shape: sizes ride the exploded rows (see [[shinglesWithSize]]), so
    * the whole query is scan → explode → one shuffle on (block, g) — reused
    * by both self-join sides via ReuseExchange, no persist needed — → one
    * pair-count aggregate. Two exchanges total, zero extra passes over the
    * corpus.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], thresholdMilli: Int): DataFrame = {
    val sh = shinglesWithSize(docs, idCol, textCol, blockCols)
    // shuffle_hash, not the planner's default: Catalyst costs the build side
    // from the parquet stats BEFORE the explode, so it would broadcast the
    // entire exploded corpus (OOM at scale, and the shingle expression would
    // evaluate twice). A shuffled self-join makes both sides one identical
    // exchange — ReuseExchange computes the scan+explode exactly once.
    val a = sh.hint("shuffle_hash").as("a")
    val b = sh.hint("shuffle_hash").as("b")
    val joinCond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.g") === col("b.g") && col("a.id") < col("b.id"))(_ && _)
    a.join(b, joinCond)
      // sz_a/sz_b are functionally dependent on the ids; grouping on them
      // costs nothing and saves the size-lookup joins
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") * 1000 >= lit(thresholdMilli) * (col("sz_a") + col("sz_b") - col("common")))
      .select(col("id_a"), col("id_b"), col("common"), col("sz_a"), col("sz_b"),
        (col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common"))).as("jaccard"))
  }

  /** 16-function MinHash signature per document over hashed shingles:
    * sig_k = min over shingles of (a_k·H(g) + b_k) mod P. One shuffle
    * (groupBy id) computes all 16 mins as parallel aggregates — no
    * per-function pass, no explode of the hash family.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = shingles(docs, idCol, textCol)
      .withColumn("h", strHash(col("g")))
    val aggs = (0 until 16).map(k => min(rehash(col("h"), k)).as(s"sig_$k"))
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash LSH near-dup pairs: identical signatures collapse to a
    * min-id representative (members become STAR candidates through their
    * rep); the DISTINCT signatures band into 4 bands of 4 rows;
    * candidates share any full band; every candidate — star or banded —
    * is then exactly verified with n-gram Jaccard ≥ threshold, so
    * precision is unchanged by the collapse. The candidate graph routes
    * identical-signature groups through their representative: m copies
    * of one page cost one hash-agg and m−1 verified candidates instead
    * of the C(m,2) pileup on one band key (and the quadratic verify
    * explode behind it). In the measure-zero corner where an emitted
    * rep edge fails the verify while some member-to-member edge would
    * have passed (requires a MinHash collision between texts of
    * DIVERGENT Jaccard), the collapsed tier can miss that edge — the
    * recall trade is strictly smaller than the banding's own, and the
    * oracle replays the same collapsed algorithm.
    *
    * Shape (the 100 TB plan): signatures are computed INSIDE the scan by the
    * codegen'd [[graft.functions.MinHashSig]] expression — the corpus is
    * never exploded and never shuffled; the only data that moves is
    * (id, 16 longs) into the signature hash-agg and band bucket-join, and
    * the exact-verify explode touches candidate documents only (LSH
    * candidate set << corpus).
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   thresholdMilli: Int): DataFrame = {
    // (id, sig[16]) — map-only over the doc scan. NOT materialized: the band
    // self-join below shuffles two IDENTICAL (scan → sig → posexplode)
    // sides, so ReuseExchange computes the scan exactly once — a separate
    // checkpoint job would only add a sequential materialization to the
    // operator's latency floor (each sequential job multiplies under host
    // load). shuffle_hash is pinned for the same reason as
    // [[ngramJaccardPairs]]: a planner broadcast of one side would build
    // from the OTHER side's plan and compute the sig scan twice (and OOM on
    // mirror-heavy corpora at scale).
    val sig = docs
      .select(col(idCol).as("id"), graft.functions.MinHashSig(col(textCol)).as("sig"))
      .filter(col("sig").isNotNull)
    // identical-signature PRE-COLLAPSE (the Banded64 discipline): m
    // byte-identical boilerplate copies share one signature and would
    // land in the SAME four band buckets — C(m,2) candidates on one join
    // key, each paying the shingle-explode verify. Instead: ONE window
    // exchange on the signature assigns every row its group's min-id
    // representative in place; non-reps become STAR candidates map-side
    // (m−1, still exact-verified below — identical MinHash signature
    // does NOT certify Jaccard), and only the DISTINCT signatures band.
    // Near-dup candidates between two groups meet as rep-to-rep pairs;
    // the emitted edge set is the candidate graph's connectivity routed
    // through representatives, every edge verified. The corpus scan
    // computes once: the window's exchange is the single consumer of it.
    val withRep = sig.withColumn("_rep", min(col("id")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))))
    val starCand = withRep.filter(col("id") =!= col("_rep"))
      .select(col("_rep").as("id_a"), col("id").as("id_b"))
    // one posexplode projection, not a 4-way union: a quarter of the plan
    // (and of the codegen/stage overhead) for identical (id, band, bkey)
    // rows — over DISTINCT signatures only
    val bands = withRep.filter(col("id") === col("_rep"))
      .select(col("id"),
        posexplode(array((0 until 4).map { bnd =>
          concat_ws(",", (0 until 4).map(r => col("sig").getItem(bnd * 4 + r)): _*)
        }: _*)).as(Seq("band", "bkey")))
      .hint("shuffle_hash")
    // candidate pairs ARE eager-materialized (localCheckpoint, not persist,
    // so no catalog cache entry outlives the call — the round-1 leak,
    // ADVICE.md): the verify stage consumes them three times (two join
    // sides + the candIds semi-join), and each use would otherwise replay
    // the band join
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .unionAll(starCand)
      .distinct()
      .localCheckpoint(true)
    // exact verify: explode shingles for CANDIDATE docs only
    // no broadcast hint: the candidate-id set scales with the duplicate
    // count — tiny on clean corpora but O(n) on mirror-heavy ones, exactly
    // where a forced broadcast would OOM; the planner/AQE picks broadcast
    // when the actual size permits
    val candIds = cand.select(col("id_a").as("cid"))
      .unionAll(cand.select(col("id_b").as("cid"))).distinct()
    val candDocs = docs.join(candIds, col(idCol) === col("cid"), "left_semi")
    // sizes ride the exploded rows (see shinglesWithSize): no sizes groupBy,
    // no size-lookup joins — the checkpoint feeds only the two common-count
    // join sides
    val sh = shinglesWithSize(candDocs, idCol, textCol).localCheckpoint(true)
    cand
      .join(sh.select(col("id").as("id_a"), col("sz").as("sz_a"), col("g")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sz").as("sz_b"), col("g")), Seq("id_b", "g"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b").agg(count(lit(1)).as("common"))
      .filter(col("common") * 1000 >= lit(thresholdMilli) * (col("sz_a") + col("sz_b") - col("common")))
      .select(col("id_a"), col("id_b"), col("common"), col("sz_a"), col("sz_b"),
        (col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common"))).as("jaccard"))
  }

  /** 64-bit SimHash per document: bit j of the signature is set iff the
    * count-weighted majority of tokens votes 1 on bit j (vote = parity of
    * the j-th universal rehash of the token's PolyHash — see
    * [[graft.functions.SimHashSig]]) — computed inside the scan by the
    * codegen'd expression (no explode, no grouping; the corpus never
    * shuffles).
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        extraCols: Seq[String] = Nil): DataFrame = {
    docs.select(col(idCol).as("id") +: extraCols.map(col) :+
      graft.functions.SimHashSig(col(textCol)).as("simhash"): _*)
  }

  /** Built-ins-only twin of [[simhashSignatures]] (explode → counted tokens
    * → 64 bit-sum aggregates, two shuffles), kept as the cross-
    * implementation check for the codegen'd expression. */
  def simhashSignaturesPortable(docs: DataFrame, idCol: String, textCol: String,
                                extraCols: Seq[String] = Nil): DataFrame = {
    import graft.functions.TextAnalysis.{HplaneA, HplaneB, P}
    val keyCols = col(idCol).as("id") +: extraCols.map(col)
    val tok = docs
      .select(keyCols :+ explode(tokens(col(textCol))).as("w"): _*)
      .groupBy("id" +: extraCols :+ "w" map col: _*).agg(count(lit(1)).as("cnt"))
      .withColumn("h", strHash(col("w")))
    val bitSums = (0 until 64).map(j =>
      sum((lit(HplaneA(j)) * col("h") + lit(HplaneB(j))) % P % 2 * col("cnt"))
        .as(s"b_$j"))
    val grouped = tok.groupBy("id" +: extraCols map col: _*)
      .agg(bitSums.head, (bitSums.tail :+ sum(col("cnt")).as("total")): _*)
    // term order 0..63 and left-assoc addition: partial sums peak at
    // 2^63-1 before the (negative two's-complement) bit-63 term lands,
    // so the fold never overflows in either dialect
    val sig = (0 until 64).map(j =>
      when(col(s"b_$j") * 2 > col("total"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    grouped.select(col("id") +: extraCols.map(col) :+ sig.as("simhash"): _*)
  }

  /** Duplicate-SPAN statistics (the RefinedWeb/Dolma "exact substring
    * dedup" tier, approximated by fixed-width chunk hashing): split each
    * document's token stream into consecutive non-overlapping `span`-token
    * chunks, hash each chunk, and report — for every document owning at
    * least one chunk that also appears in ≥ `minDocs` distinct documents —
    * the chunk counts, the duplicated fraction, and a flag at
    * `flagMilli`/1000. Output: (idCol, n_chunks, n_dup_chunks, dup_milli,
    * dup_frac, flagged), one row per affected document.
    *
    * Plan shape: chunking is in-scan (`transform`+`explode` over the token
    * array; the per-chunk hash is the codegen'd
    * [[graft.functions.WidePolyHash]] at row level, after the explode). Only
    * 8-byte (id, hash) pairs ever reach an exchange: the duplicated-chunk
    * set takes two hash-partitioned aggs (distinct-doc count) over the
    * exploded pairs and then BROADCASTS back into the probe side, so the
    * probe is map-side — the corpus text never shuffles. The text column
    * is scanned twice (once per side), which at scale is the right trade:
    * a columnar re-scan is cheaper than exchanging the exploded pairs a
    * second time, and the dup set is bounded by the corpus's repeated
    * chunks, tiny for any mostly-unique corpus. The chunk key is the
    * 62-bit [[graft.functions.WidePolyHash]] — this join is GLOBAL scope,
    * so a 31-bit key would saturate by birthday around ~50k distinct
    * chunks (phantom dup fractions at corpus scale); the wide key pushes
    * the regime to ~2^31 chunks at 2⁻⁶²-per-pair. Past ~10¹⁰ distinct
    * chunks, `hashBits = 93` (or `GRAFT_HASH_BITS=93`) escalates to the
    * composite `(wide, third-polynomial)` two-column key — 2⁻⁹³ per
    * pair, same plan shape, output byte-identical below either regime's
    * birthday bound (spec-pinned). The flag threshold compares exact
    * integers.
    */
  def spanDupStats(docs: DataFrame, idCol: String, textCol: String,
                   span: Int = 8, minDocs: Int = 2,
                   flagMilli: Int = 900,
                   hashBits: Int = graft.functions.TextAnalysis.defaultHashBits): DataFrame = {
    require(span >= 1, "span must be >= 1")
    require(minDocs >= 2, "minDocs must be >= 2")
    require(hashBits == 62 || hashBits == 93, s"hashBits must be 62 or 93, got $hashBits")
    // 93-bit escalation (SCALE.md hash-width policy): the chunk key grows
    // a second column — an independent third polynomial — for corpora
    // whose global chunk sets outgrow the 62-bit birthday regime (~10^10
    // distinct chunks). Same plan, one more long per chunk row.
    val keyCols = if (hashBits == 93) Seq("hv", "hv2") else Seq("hv")
    val w = tokens(col(textCol))
    val ch = docs
      .select(col(idCol).as("id"), w.as("w"))
      .select(col("id"),
        floor(size(col("w")) / lit(span)).cast("long").as("n_chunks"), col("w"))
      .filter(col("n_chunks") > 0)
      .select(col("id"), col("n_chunks"),
        explode(transform(sequence(lit(0L), col("n_chunks") - 1),
          k => concat_ws(" ", slice(col("w"), (k * span + 1).cast("int"), lit(span)))))
          .as("c"))
      .select(col("id") +: col("n_chunks") +: wideStrHash(col("c")).as("hv") +:
        (if (hashBits == 93)
          Seq(graft.functions.ThirdPolyHash(col("c")).as("hv2")) else Nil): _*)
    val dup = ch.groupBy(keyCols.map(col): _*)
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(keyCols.map(col): _*)
    ch.join(dup, keyCols)
      .groupBy("id")
      .agg(max(col("n_chunks")).as("n_chunks"),
        count(lit(1)).as("n_dup_chunks"))
      .withColumn("dup_milli", expr("(n_dup_chunks * 1000) div n_chunks"))
      .withColumn("dup_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks"))
      .withColumn("flagged",
        (col("n_dup_chunks") * 1000 >= col("n_chunks") * flagMilli).cast("long"))
      .select(col("id").as(idCol), col("n_chunks"), col("n_dup_chunks"),
        col("dup_milli"), col("dup_frac"), col("flagged"))
  }

  /** CROSS-DOCUMENT boilerplate REMOVAL — the rewrite twin of
    * [[spanDupStats]] (which only measures): every non-overlapping
    * `span`-word chunk whose 62-bit hash appears in ≥ `minDocs` DISTINCT
    * documents is deleted from every document carrying it, and each
    * document's text is reassembled from its surviving chunks plus the
    * (< span)-word tail. This is the curation step that strips repeated
    * headers/footers/navigation from a web corpus before training —
    * measured dup mass (q62) decides the knobs, this operator applies
    * them.
    *
    * Scale shape: the chunk relation is COORDINATES-ONLY — (id, k, hv)
    * rows, ~24 bytes, hashed in-scan BEFORE the explode, so text never
    * rides the dup-detection shuffles (the same ids-only discipline as
    * the banded pair tiers). The removal verdicts come back as one
    * per-doc array of chunk indices (bounded by n_chunks), and the
    * rewrite is a per-row array rebuild against the original scan — text
    * crosses exactly one exchange (the verdict join's doc-id shuffle),
    * never the hv aggregation. Output: (idCol, clean_text, n_removed),
    * one row per input document (docs with nothing removed pass through
    * verbatim; a fully-boilerplate document keeps only its tail, possibly
    * the empty string).
    */
  def scrubDupSpans(docs: DataFrame, idCol: String, textCol: String,
                    span: Int = 8, minDocs: Int = 2,
                    hashBits: Int = graft.functions.TextAnalysis.defaultHashBits): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    val keyCols = chunkKeyCols(hashBits)
    val dup = chunkCoords(docs, idCol, textCol, span, hashBits)
      .groupBy(keyCols.map(col): _*)
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(keyCols.map(col): _*)
    scrubWithDups(docs, idCol, textCol, dup, span, hashBits)
  }

  /** The chunk-key columns for a given hash width — a DELETED span is the
    * q75-class worst case of the hash-width policy (a collision destroys
    * legitimate text), so the scrub honors the same 93-bit escalation as
    * the measurement tier (q62) and the gram joins. */
  private def chunkKeyCols(hashBits: Int): Seq[String] = {
    require(hashBits == 62 || hashBits == 93,
      s"hashBits must be 62 or 93, got $hashBits")
    if (hashBits == 93) Seq("hv", "hv2") else Seq("hv")
  }

  /** The (id, k, hv[, hv2]) chunk-coordinate relation shared by
    * [[scrubDupSpans]] and the streaming chunk-count accumulator
    * ([[graft.streaming.StreamBoilerplate]]): chunk index k + 62-bit
    * chunk hash (plus the independent third polynomial under the 93-bit
    * escalation), computed in-scan — the only thing the dup-detection
    * shuffles ever see. */
  private[graft] def chunkCoords(docs: DataFrame, idCol: String,
                                 textCol: String, span: Int,
                                 hashBits: Int = graft.functions.TextAnalysis.defaultHashBits): DataFrame = {
    require(span >= 1, "span must be >= 1")
    chunkKeyCols(hashBits) // validates width
    val w = tokens(col(textCol))
    val chunkStr = (k: org.apache.spark.sql.Column) => concat_ws(" ",
      slice(col("w"), (k * span + 1).cast("int"), lit(span)))
    val base = docs
      .select(col(idCol).as("id"), w.as("w"))
      .select(col("id"),
        floor(size(col("w")) / lit(span)).cast("long").as("n_chunks"), col("w"))
      .filter(col("n_chunks") > 0)
    if (hashBits == 93)
      base.select(col("id"),
        posexplode(transform(sequence(lit(0L), col("n_chunks") - 1),
          k => struct(wideStrHash(chunkStr(k)).as("h1"),
            graft.functions.ThirdPolyHash(chunkStr(k)).as("h2"))))
          .as(Seq("k", "_hs")))
        .select(col("id"), col("k"), col("_hs.h1").as("hv"),
          col("_hs.h2").as("hv2"))
    else
      base.select(col("id"),
        posexplode(transform(sequence(lit(0L), col("n_chunks") - 1),
          k => wideStrHash(chunkStr(k))))
          .as(Seq("k", "hv")))
  }

  /** [[scrubDupSpans]]'s REWRITE half against an explicit dup-chunk set
    * (the chunk-key columns for `hashBits`) — the entry point for a
    * store-accumulated dup set (streaming re-scrub), where the
    * measurement half already ran incrementally. */
  def scrubWithDups(docs: DataFrame, idCol: String, textCol: String,
                    dup: DataFrame, span: Int,
                    hashBits: Int = graft.functions.TextAnalysis.defaultHashBits): DataFrame = {
    require(span >= 1, "span must be >= 1")
    val keyCols = chunkKeyCols(hashBits)
    val verdicts = chunkCoords(docs, idCol, textCol, span, hashBits)
      .join(dup.select(keyCols.map(col): _*), keyCols)
      .groupBy("id")
      .agg(collect_set(col("k")).as("rk"))
    // rebuild: removed chunk k is exactly the 1-based token interval
    // [k·span+1, k·span+span], so the rewrite IS the codegen'd
    // interval scrub ([[graft.functions.ScrubTokens]], q75's rebuild
    // engine — one O(tokens + chunks) pass per document, bitwise equal
    // to the three-nested-HOF form it replaces, which re-ran
    // interpreted per token)
    val rkSorted = sort_array(col("rk"))
    // docs with NO removal verdict keep their original text BYTE-identical
    // (whitespace/newlines included): the token rebuild only runs on docs
    // that actually lose a chunk, so the scaladoc's "pass through verbatim"
    // holds for structure-bearing text (code, markdown) too
    docs
      .select(col(idCol).as("id"), col(textCol).as("_t"))
      .join(verdicts, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("rk").isNull, col("_t"))
          .otherwise(graft.functions.ScrubTokens(col("_t"),
            transform(rkSorted, k => (k * span + 1).cast("int")),
            transform(rkSorted, k => (k * span + span).cast("int")))
            .getField("text")).as("clean_text"),
        when(col("rk").isNull, lit(0L))
          .otherwise(size(col("rk")).cast("long")).as("n_removed"))
  }

  /** SimHash near-dup EDGE SET: identical (block, signature) groups
    * collapse to a min-id representative (star edges at hamming 0,
    * linear in group size); DISTINCT signatures band into 4×16-bit
    * keys; representatives sharing any band are candidates; candidates
    * are verified by popcount of the XOR ≤ maxHamming. The output is
    * CONNECTIVITY-EQUIVALENT to historical all-pairs banding — same
    * connected components, hence identical `keepCanonical` survivors —
    * while `m` copies of one signature cost m−1 edges instead of the
    * C(m,2) pileup on one band key (the 100 TB boilerplate-page
    * regime). For maxHamming ≤ 3 recall is EXACT by pigeonhole —
    * 3 flipped bits cannot touch all 4 bands, so every qualifying
    * distinct-signature pair shares at least one band (identical
    * signatures connect through their group's star). Candidate volume
    * is ~4·C(d,2)·2⁻¹⁶ across `d` distinct signatures (4 bands ×
    * pair-collision odds 2⁻¹⁶ each) — the 16-bit bands keep the
    * candidate join's output LINEAR-ish at corpus scale, where the
    * former 8-bit bands admitted ~n²/128 random pairs (see SCALE.md's
    * banded-tier candidate-volume policy). Corpora whose signatures
    * correlate (shared vocabulary) still need a pre-split on a
    * blocking key, same as MinHash. Band extraction is
    * `(sig >> 16b) & 0xFFFF` — mask, not mod, so the arithmetic-shift
    * sign fill of bit-63 signatures cannot reach the key in either
    * dialect. Only the 8-byte signature rides the band exchange with
    * the id; the verify (a codegen'd popcount) runs map-side on the
    * raw join output BEFORE the distinct, so the dedup shuffle only
    * carries qualifying pairs.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, blockCols: Seq[String] = Nil): DataFrame = {
    val sig = simhashSignatures(docs, idCol, textCol, blockCols).localCheckpoint(true)
    // 1. collapse identical (block, signature) groups to a min-id
    // representative — the quadratic-skew guard: m byte-identical
    // boilerplate pages share one signature and previously cost C(m,2)
    // verified pairs on ONE band key; now one hash-agg + m−1 star edges
    // (see Banded64's object doc — the edge set is
    // CONNECTIVITY-EQUIVALENT, so Components/keepCanonical survivors
    // are unchanged)
    val groupKey = col("simhash") +: blockCols.map(col)
    val reps = sig.groupBy(groupKey: _*).agg(min(col("id")).as("_rep"))
      .localCheckpoint(true)
    val star = sig.join(reps, "simhash" +: blockCols)
      .filter(col("id") =!= col("_rep"))
      .select(col("_rep").as("id_a"), col("id").as("id_b"),
        lit(0L).as("hamming"))
    // 2. band DISTINCT signatures only
    val distinctSig = reps.select(col("_rep").as("id") +: blockCols.map(col)
      :+ col("simhash"): _*)
    val bands = distinctSig.select(col("id") +: blockCols.map(col) :+ col("simhash") :+
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(65535L))): _*))
        .as(Seq("band", "bkey")): _*)
    val joinCond = blockCols.map(c => col(s"x.$c") === col(s"y.$c"))
      .foldLeft(col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
        col("x.id") < col("y.id"))(_ && _)
    // verify (a codegen'd popcount) BEFORE the distinct: the filter runs
    // map-side on the raw join output, so the dedup shuffle only carries
    // qualifying pairs — not every band collision
    val cross = bands.as("x")
      .join(bands.as("y"), joinCond)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    star.unionByName(cross)
  }

  /** Near-dup KEEP-ONE — the materialization the clustering feeds (what
    * [[graft.operators.Similarity.semDedup]]'s keep tier is to SemDeDup,
    * this is to MinHash clustering): every document gets its near-dup
    * component (its own id when unclustered), and exactly one document per
    * component survives — the highest `qualityCol`, ties to the lowest id.
    * Output: (id, component, kept) for EVERY input document, so the
    * surviving corpus is `filter(kept)` and the audit trail is free.
    *
    * Scale shape: the edge set is [[Components.of]]'s problem (size-gated
    * driver union-find with distributed fallback); this adds one LEFT join
    * of the corpus against the component map (ids only — text never moves)
    * and one per-component window whose partitions are near-dup clusters —
    * bounded by construction (a cluster is a set of mutual near-dups), so
    * no skew salt is needed. */
  def keepCanonical(docs: DataFrame, idCol: String, qualityCol: String,
                    pairs: DataFrame, aCol: String = "id_a",
                    bCol: String = "id_b"): DataFrame = {
    val comp = Components.of(pairs, aCol, bCol)
      .select(col("id").as("_cid"), col("component"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(col("_q").desc, col("_id").asc)
    docs
      .select(col(idCol).cast("long").as("_id"),
        col(qualityCol).cast("long").as("_q"))
      .join(comp, col("_id") === col("_cid"), "left")
      .withColumn("component", coalesce(col("component"), col("_id")))
      .withColumn("_rn", row_number().over(w))
      .select(col("_id").as(idCol), col("component"),
        (col("_rn") === 1).as("kept"))
  }

  // ──────────────────────── line-level dedup ────────────────────────

  /** LINE-granularity duplicate removal — the CCNet/Dolma paragraph-dedup
    * primitive the chunk tiers above deliberately skip: identity is the
    * whole (whitespace-trimmed) line, not a fixed-width token window, so a
    * navigation bar or repeated header dies as a unit regardless of its
    * token length. Two standard policies share one core:
    *
    *  - [[dedupLinesKeepFirst]] (CCNet dedup): a line occurring ≥ `minReps`
    *    times corpus-wide keeps only its GLOBAL FIRST occurrence (smallest
    *    `(id, position)`); every later copy is deleted from its document.
    *  - [[scrubFreqLines]] (boilerplate): a line occurring ≥ `minReps`
    *    times is deleted EVERYWHERE — no copy survives (the policy for
    *    nav/footer chrome where even the first occurrence is noise).
    *
    * Semantics shared by both: line identity is `trim(line)` (indentation
    * and trailing spaces don't mint new identities), but surviving lines
    * rebuild with their ORIGINAL bytes; blank/whitespace-only lines are
    * EXEMPT (they are document structure, and deduping the empty string
    * would glue every paragraph in the corpus together); documents with no
    * removal keep their text BYTE-identical (the rebuild only runs on
    * flagged docs). Output: (idCol, clean_text, n_removed), one row per
    * input document.
    *
    * Scale shape (the same ids-only discipline as [[scrubDupSpans]]): the
    * duplicate detection sees COORDINATES ONLY — (id, p, 62-bit
    * trimmed-line hash), hashed in-scan before the explode's projection,
    * so text never rides the line-identity exchange; verdicts come back
    * as one bounded per-doc position array and text crosses exactly one
    * exchange (the verdict join's doc-id shuffle). Detection is a
    * map-side-combining AGGREGATE (count + min (id, p) per line), never a
    * window sort — a line repeated 10⁹ times contributes one row per
    * input partition to the exchange — and the dup-line table is
    * threshold-filtered BEFORE the join back, so only the duplicated head
    * joins (AQE broadcasts it at that size). */
  def dedupLinesKeepFirst(docs: DataFrame, idCol: String, textCol: String,
                          minReps: Int = 2): DataFrame = {
    require(minReps >= 2, s"minReps must be >= 2, got $minReps")
    rebuildWithoutLines(docs, idCol, textCol,
      lineRemovals(docs, idCol, textCol, minReps, keepFirst = true))
  }

  /** All-copies removal of high-frequency lines — see
    * [[dedupLinesKeepFirst]] for the shared semantics and scale shape. */
  def scrubFreqLines(docs: DataFrame, idCol: String, textCol: String,
                     minReps: Int): DataFrame = {
    require(minReps >= 2, s"minReps must be >= 2, got $minReps")
    rebuildWithoutLines(docs, idCol, textCol,
      lineRemovals(docs, idCol, textCol, minReps, keepFirst = false))
  }

  /** (id, p, lhv) line coordinates: one row per NON-BLANK line, hashed by
    * TRIM identity in-scan before the explode's projection — the shared
    * entry of the batch verdicts and the streaming claims tier
    * ([[graft.streaming.IncrementalLineDedup]]). */
  private[graft] def lineCoords(docs: DataFrame, idCol: String,
                                textCol: String): DataFrame = {
    // idCol cast to LONG (the family's documented long-castable
    // contract, matching IncrementalLineDedup.scrubAndClaim): keep-first
    // takes min(struct(id, p)), and a raw string id would order
    // lexicographically ("10" < "9"), making "global first occurrence"
    // type-dependent and breaking the spec-pinned batch≡streaming
    // single-batch equivalence for non-numeric-typed id columns.
    docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("p", "l")))
      .filter(trim(col("l")) =!= "")
      .select(col("id"), col("p"), wideStrHash(trim(col("l"))).as("lhv"))
  }

  /** The verdict half: (id, rp) with rp = sorted removed line positions.
    *
    * Stated as AGGREGATE + JOIN, deliberately not a window: the per-line
    * aggregate (count + min (id, p)) partial-aggregates map-side — a
    * pathological line repeated 10⁹ times contributes ONE row per input
    * partition to the exchange instead of 10⁹ rows through a window
    * sort — and the aggregate is filtered to `cnt ≥ minReps` BEFORE the
    * join back, so the verdict join's build side carries only the
    * corpus's DUPLICATED lines (usually a small head; AQE broadcasts it
    * at that size, and the coordinate scan then crosses no exchange at
    * all). Keep-first drops every occurrence except the recorded
    * minimum; the frequency policy drops them all. */
  private def lineRemovals(docs: DataFrame, idCol: String, textCol: String,
                           minReps: Int, keepFirst: Boolean): DataFrame = {
    val coords = lineCoords(docs, idCol, textCol)
    // corpus-wide pass: COUNT only — codegen'd hash aggregate with
    // map-side combine (min(struct) here would force a SortAggregate
    // over every coordinate; it runs on the dup head below instead)
    val dupKeys = coords.groupBy("lhv").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minReps).select("lhv")
    val dupCoords = coords.join(dupKeys, "lhv")
    val flagged =
      if (keepFirst) {
        val keeper = dupCoords.groupBy("lhv")
          .agg(min(struct(col("id"), col("p"))).as("m"))
          .select(col("lhv"), col("m.id").as("mid"), col("m.p").as("mp"))
        dupCoords.join(keeper, "lhv")
          .filter(col("id") =!= col("mid") || col("p") =!= col("mp"))
      } else dupCoords
    flagged.groupBy("id").agg(sort_array(collect_list(col("p"))).as("rp"))
  }

  /** The rewrite half: drop the flagged positions, keep original bytes for
    * every surviving line; untouched docs pass through verbatim. `removals`
    * is (id, rp: sorted removed positions) — shared with the streaming
    * tier, which derives its removals from the claims store instead of a
    * corpus-wide window. */
  private[graft] def rebuildWithoutLines(docs: DataFrame, idCol: String,
                                         textCol: String,
                                         removals: DataFrame): DataFrame =
    // id cast mirrors lineCoords (the long-castable family contract) so
    // the verdict join is long = long, never a string/long coercion
    docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("_t"))
      .join(removals, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("rp").isNull, col("_t"))
          .otherwise(array_join(
            filter(split(col("_t"), "\n", -1),
              (l, i) => !array_contains(col("rp"), i)),
            "\n")).as("clean_text"),
        when(col("rp").isNull, lit(0L))
          .otherwise(size(col("rp")).cast("long")).as("n_removed"))

  /** CONTENT-DEFINED CHUNK inventory ([[graft.functions.CdcChunks]]):
    * one row per chunk — (idCol, chunk_no, start, n_tokens, h). The
    * SHIFT-ROBUST chunking tier the fixed grids miss: q62's fixed-span
    * chunks and q76's sliding windows both lose identity when an edit
    * shifts positions (fixed spans: every later chunk; windows:
    * detected, but at w-token granularity with per-position cost).
    * CDC boundaries are local-content functions, so an insertion
    * invalidates only the chunk it lands in — every other chunk of the
    * edited document keeps its 62-bit identity. Expected chunk size
    * 2^maskBits tokens; NULL-text documents are absent.
    *
    * Scale shape: the chunker rides the scan (codegen'd, text never
    * leaves it); one row per ~2^maskBits tokens — ids and hashes only —
    * is what downstream exchanges carry. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                window: Int = 8, maskBits: Int = 5): DataFrame = {
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(graft.functions.CdcChunks(col(textCol).cast("string"),
          window, maskBits)))
      .select(col(idCol), col("pos").cast("long").as("chunk_no"),
        col("col.start").cast("long").as("start"),
        col("col.n_tokens").cast("long").as("n_tokens"),
        col("col.h").as("h"))
  }

  /** Per-document CDC duplication stats: how much of each document is
    * made of chunks that also appear in OTHER documents — the
    * curation signal for shifted/edited boilerplate reuse (mirror
    * pages, templated articles with one paragraph swapped) that exact
    * dedup misses and fixed grids under-count. Output: (idCol,
    * n_chunks, n_tokens, dup_chunks, dup_tokens, dup_ppm) where a
    * chunk is dup iff its 62-bit hash occurs in ≥ 2 distinct
    * documents. One exchange on the chunk hash for the global
    * distinct-doc count (rows are ~tokens/2^maskBits of (id, h,
    * n) longs), the count joins back on the same key, then one
    * per-document aggregation. */
  def cdcDupStats(docs: DataFrame, idCol: String, textCol: String,
                  window: Int = 8, maskBits: Int = 5): DataFrame = {
    val ch = cdcChunks(docs, idCol, textCol, window, maskBits)
    val global = ch.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("_nd"))
    ch.join(global, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("_nd") >= 2, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("_nd") >= 2, col("n_tokens")).otherwise(0L))
          .as("dup_tokens"))
      .withColumn("dup_ppm",
        expr("dup_tokens * 1000000L div n_tokens"))
  }

  /** CDC near-dup PAIR edges — the PARTIAL-overlap tier: two documents
    * connect when they share ANY content-defined chunk (one lifted
    * paragraph connects them even at jaccard ≈ 0, where the whole-doc
    * MinHash tier never fires; sharing is exact content identity, so
    * there is nothing to verify). Emitted under the engine-wide
    * identical-signature PRE-COLLAPSE discipline: per chunk hash, the
    * min-id document is elected representative and every other carrier
    * gets ONE (rep, id) star edge — m carriers of a viral boilerplate
    * chunk cost m−1 edges, never C(m,2) — and star edges are
    * connectivity-exact for the downstream [[Components]] + keep-one
    * composition. Output: (a, b, h) distinct edges with a < b, one row
    * per (chunk hash, member); connect the pieces with
    * [[Components.of]] → [[keepCanonical]] for the deduped corpus.
    * Tokens-sized work never appears: the chunker rides the scan and
    * only (id, h) longs reach the one hash-keyed exchange. */
  def cdcPairs(docs: DataFrame, idCol: String, textCol: String,
               window: Int = 8, maskBits: Int = 5): DataFrame = {
    val ch = cdcChunks(docs, idCol, textCol, window, maskBits)
      .select(col(idCol).cast("long").as("id"), col("h"))
      .distinct()
    val rep = ch.groupBy(col("h")).agg(min(col("id")).as("a"))
    ch.join(rep, "h")
      .filter(col("id") =!= col("a"))
      .select(col("a"), col("id").as("b"), col("h"))
      .distinct()
  }

  /** CDC SCRUB — the boilerplate policy over content-defined chunks: a
    * chunk carried by ≥ `minDocs` distinct documents is deleted from
    * EVERY carrier ([[scrubFreqLines]]' semantics at CDC granularity —
    * templated chrome that shifts with its page dies as a unit, where
    * the fixed-span scrub only catches grid-aligned copies). Rewritten
    * documents come back whitespace-normalized (the [[graft.functions
    * .ScrubTokens]] rebuild); untouched documents keep their text
    * BYTE-identical. Output: (idCol, clean_text, n_removed,
    * removed_tokens) — chunks and tokens deleted per document.
    *
    * The honest CDC caveat: removal is an EDIT, so re-chunking the
    * scrubbed text can draw different boundaries near each seam — the
    * same locality bound as any edit (the chunks the seam's windows
    * reach), never a whole-document reshuffle. */
  def scrubCdcChunks(docs: DataFrame, idCol: String, textCol: String,
                     window: Int = 8, maskBits: Int = 5,
                     minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    val dup = cdcChunks(docs, idCol, textCol, window, maskBits)
      .groupBy(col("h")).agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    scrubCdcWithDups(docs, idCol, textCol, dup, window, maskBits)
  }

  /** [[scrubCdcChunks]]' REWRITE half against an explicit dup-hash set
    * — the entry point for a store-accumulated dup set
    * ([[graft.streaming.StreamBoilerplate.CdcCounts]]), where the
    * measurement half already ran incrementally. */
  def scrubCdcWithDups(docs: DataFrame, idCol: String, textCol: String,
                       dup: DataFrame, window: Int = 8,
                       maskBits: Int = 5): DataFrame = {
    val verdicts = cdcChunks(docs, idCol, textCol, window, maskBits)
      .join(dup.select("h"), Seq("h"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("start"), col("n_tokens")))).as("_rs"))
    docs
      .select(col(idCol), col(textCol).as("_t"))
      .join(verdicts, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_rs").isNull, col("_t"))
          .otherwise(graft.functions.ScrubTokens(col("_t"),
            transform(col("_rs"), x => x.getField("start").cast("int")),
            transform(col("_rs"), x =>
              (x.getField("start") + x.getField("n_tokens") - 1)
                .cast("int")))
            .getField("text")).as("clean_text"),
        when(col("_rs").isNull, lit(0L))
          .otherwise(size(col("_rs")).cast("long")).as("n_removed"),
        when(col("_rs").isNull, lit(0L))
          .otherwise(aggregate(col("_rs"), lit(0L),
            (a, x) => a + x.getField("n_tokens"))).as("removed_tokens"))
  }
}
