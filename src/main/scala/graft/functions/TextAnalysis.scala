package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline operators
  * (tokenization, deterministic hashing, language-ID heuristic, quality
  * metrics). Everything is built from codegen'd Catalyst built-ins and is
  * arithmetically reproducible in ANSI SQL, so every derived operator stays
  * DuckDB-oracle-checkable.
  */
object TextAnalysis {

  /** Modulus for all polynomial hashes: 2^31-1 (Mersenne prime). Keeps every
    * intermediate product < 2^63 (acc < 2^31, ×31 + 127), so both Spark and
    * DuckDB evaluate the identical BIGINT arithmetic with no overflow.
    */
  val P: Long = 2147483647L

  /** Whitespace tokenization, the reference point for all token-level ops. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** JVM twin of [[tokens]] with EXACT Spark/DuckDB semantics, shared by
    * every codegen'd expression that tokenizes. Two traps make the obvious
    * `s.trim.split("\\s+")` wrong: Java trim strips all chars ≤ U+0020
    * while Spark/DuckDB trim strip only spaces, and Java split's default
    * limit drops trailing empty tokens while Spark/DuckDB keep them — so
    * `"foo bar\n"` must tokenize as `[foo, bar, ""]`, not `[foo, bar]`.
    */
  def jvmTokens(s: String): Array[String] = {
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    s.substring(lo, hi).split("\\s+", -1)
  }

  /** Deterministic Java-style 31-polynomial string hash mod [[P]], computed
    * over code points — the native codegen'd [[PolyHash]] expression.
    * Oracle twin: DuckDB `list_reduce` (see `graft.queries.TextQ.sqlHash`).
    */
  def strHash(s: Column): Column = PolyHash(s)

  /** Built-ins-only twin of [[strHash]] (regex scan + interpreted fold);
    * kept as the spec reference for the codegen'd expression.
    * `(?s)` so '.' matches newlines, like PolyHash's code-point loop.
    */
  def strHashPortable(s: Column): Column =
    aggregate(regexp_extract_all(s, lit("(?s)."), lit(0)), lit(0L),
      (acc, c) => (acc * 31L + ascii(c)) % P)

  /** 62-bit WIDE string hash for GLOBAL-scope join keys — the codegen'd
    * [[WidePolyHash]] (`poly31 · P + poly37`; see its scaladoc for the
    * birthday-regime rationale). Use this, not [[strHash]], whenever the
    * hash keys a corpus-wide equi-join: the 31-bit space saturates around
    * ~50k distinct values. Oracle twin: `graft.queries.TextQ.sqlWideHash`.
    */
  def wideStrHash(s: Column): Column = WidePolyHash(s)

  /** Built-ins-only twin of [[wideStrHash]] — the composed two-polynomial
    * form the single-loop expression replaces (the spec reference).
    */
  def wideStrHashPortable(s: Column): Column = {
    def poly(mult: Long): Column =
      aggregate(regexp_extract_all(s, lit("(?s)."), lit(0)), lit(0L),
        (acc, c) => (acc * mult + ascii(c)) % P)
    poly(31L) * P + poly(WideWindowHashes.Mult2)
  }

  /** Global-key width for the escalating consumers (`spanDupStats`,
    * `globalStats`): 62 (the default single-Long wide key) or 93 (the
    * composite `(wide, third)` two-column key for corpora past ~10¹⁰
    * distinct windows/chunks — SCALE.md's escalation path). Set
    * `GRAFT_HASH_BITS=93` to flip a deployment; operators also take the
    * width as an explicit parameter so specs pin both modes in one JVM. */
  def defaultHashBits: Int =
    if (sys.env.get("GRAFT_HASH_BITS").contains("93")) 93 else 62

  /** The k-th universal hash over an already-hashed value: (a_k·x + b_k) mod P. */
  def rehash(x: Column, k: Int): Column =
    (lit(MinhashA(k)) * x + lit(MinhashB(k))) % P

  /** Fixed MinHash family (16 functions → 4 bands × 4 rows). Arbitrary but
    * immutable constants < 2^30, so a_k·x < 2^61. */
  val MinhashA: Array[Long] = Array(
    387420489L, 129140163L, 43046721L, 14348907L,
    478296900L, 159432300L, 53144100L, 17714700L,
    362797056L, 120932352L, 40310784L, 13436928L,
    244140625L, 48828125L, 9765625L, 1953125L)
  val MinhashB: Array[Long] = Array(
    12345L, 67890L, 13579L, 24680L,
    11111L, 22222L, 33333L, 44444L,
    55555L, 66666L, 77777L, 88888L,
    99999L, 10101L, 20202L, 30303L)

  /** 192-plane random-hyperplane family for [[HyperplaneSig]] and the
    * wide banded tiers. Planes 0-15 ARE [[MinhashA]]/[[MinhashB]] (kept
    * for [[HyperplaneBucket]] continuity); planes 16-31 are the original
    * 16 literal constants; planes 32-191 are generated by the splitmix64
    * finalizer over the plane index (a_j from seed 2j forced odd, b_j
    * from seed 2j+1), masked to 30 bits — deterministic, immutable, and
    * embedded as plain values into generated oracle SQL exactly like the
    * literals. Every a_j, b_j < 2^30, so a_j·i stays < 2^36 for any
    * realistic dimension and a_j·h < 2^61 for 31-bit hash inputs.
    *
    * SIGNATURE TIERS MUST NOT USE PLANES 0-31: several of the hand-picked
    * constants are small enough that a_j·i never wraps mod P over
    * realistic dimensions (e.g. a = 83521: a·64 ≈ 5·10⁶ ≪ P), making the
    * plane a near-constant ramp in i — those planes' sign bits collapse
    * to ≈ sign(−Σv) and correlate heavily across planes. Measured on a
    * 2,000-row random corpus, 4×16-bit bands over planes 0-63 admit
    * ~27,700 candidate pairs where the uniform expectation is ~122;
    * bands over the generated planes admit ~500 (the residual ≈4× is
    * finite-dimension plane non-orthogonality, ~1/√dim, not band
    * correlation). [[HyperplaneSig]] therefore windows planes [32, 96)
    * and [96, 160); only the 8-plane [[HyperplaneBucket]] (a verified
    * candidate tier, never a claim key) still uses the literal planes. */
  val HplaneA: Array[Long] = MinhashA ++ Array(
    282475249L, 40353607L, 5764801L, 823543L,
    594823321L, 85766121L, 12252303L, 1750329L,
    410338673L, 24137569L, 1419857L, 83521L,
    148035889L, 28398241L, 5452801L, 1046527L) ++
    (32 until 192).map(j => (splitmix64(2L * j) & 0x3FFFFFFFL) | 1L)
  val HplaneB: Array[Long] = MinhashB ++ Array(
    40404L, 50505L, 60606L, 70707L,
    80808L, 90909L, 12321L, 23432L,
    34543L, 45654L, 56765L, 67876L,
    78987L, 89098L, 90109L, 11211L) ++
    (32 until 192).map(j => splitmix64(2L * j + 1) & 0x3FFFFFFFL)

  /** SplitMix64 finalizer — the standard public-domain avalanche function
    * (Steele et al., "Fast splittable pseudorandom number generators"),
    * used ONLY to derive the immutable plane constants above. */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Stopword lists for the language-ID heuristic (real-world lists; the
    * driver corpus is synthetic so most docs score 'en' or 'und' — the
    * operator, not the corpus, is what's under test). Kept sorted so the
    * generated SQL is stable.
    */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "of", "and", "a", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不"))
}
