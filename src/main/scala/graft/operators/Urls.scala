package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL curation for web corpora: extraction, canonicalization,
  * registered-domain derivation, per-doc link stats, per-domain rollups
  * and blocklist filtering — the link-hygiene tier of a crawl pipeline
  * (domain blocklists, link-farm detection by link density, per-domain
  * caps via the existing quota machinery on `registeredDomain`).
  *
  * Everything is IN-SCAN column arithmetic (regexp extraction + string
  * surgery; no UDF, no join until an explicit rollup), so the tier
  * rides the scan like the text-analysis family, and every
  * transformation is expressed identically in the DuckDB oracle (q98 —
  * a planted-recovery audit like q90: the synthetic corpus carries no
  * URLs, both dialects plant the same deterministic tails).
  *
  * Canonicalization contract (the dedup-safe subset every crawler
  * agrees on): scheme and host lowercase; `:80`/`:443`/any explicit
  * port dropped (path-less ports are out of the planted contract);
  * fragment dropped; `utm_*` tracking parameters dropped (other params
  * kept in order); a query left empty by stripping drops its `?`. Path
  * case is preserved. Extraction takes maximal non-SPACE runs after
  * `http(s)://` (case-insensitive scheme) — the escape-free pattern
  * that parses identically as a Spark SQL and DuckDB string literal
  * (a `\s` class would be escape-processed by Spark's SQL parser);
  * trailing-punctuation trimming is out of contract. */
object Urls {

  /** RE2-safe, escape-free extraction pattern, shared verbatim with
    * the oracle. */
  val UrlRe: String = "[Hh][Tt][Tt][Pp][Ss]?://[^ ]+"

  /** The extracted-URL array via the Column API (NOT `expr` string
    * interpolation: a column name needing backticks must not break, and
    * a column-name parameter must never be an SQL injection point);
    * NULLs coalesce to the empty array so stats rows survive. */
  private def urlArray(textCol: String): Column =
    coalesce(regexp_extract_all(col(textCol), lit(UrlRe), lit(0)),
      array().cast("array<string>"))

  /** (idCol, url) — one row per extracted raw URL, array-order stable. */
  def extractUrls(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      explode(regexp_extract_all(col(textCol), lit(UrlRe), lit(0))).as("url"))

  /** Canonical form of a raw URL column (see the object contract).
    * Pure Column string surgery — every step replays verbatim in the
    * oracle dialect. */
  def canonicalize(url: Column): Column = {
    val noFrag = substring_index(url, "#", 1)
    val scheme = lower(substring_index(noFrag, "://", 1))
    val rest = noFrag.substr(length(scheme) + lit(4), length(noFrag)) // after '://'
    val hostPort = substring_index(substring_index(rest, "/", 1), "?", 1)
    val host = lower(substring_index(hostPort, ":", 1))
    val tail = rest.substr(length(hostPort) + lit(1), length(rest)) // '/p?q', '?q' or ''
    val path = substring_index(tail, "?", 1)
    val query = when(tail.contains("?"),
      tail.substr(length(path) + lit(2), length(tail)))
      .otherwise(lit(""))
    val keptParams = filter(split(query, "&"),
      p => substring(p, 1, 4) =!= "utm_" && p =!= "")
    val canonQuery = array_join(keptParams, "&")
    concat(scheme, lit("://"), host, path,
      when(canonQuery =!= "", concat(lit("?"), canonQuery)).otherwise(lit("")))
  }

  /** Registered domain (eTLD+1), PSL-backed: the host's longest
    * matching public suffix from the [[PublicSuffix]] snapshot plus one
    * registrant label — so `www.bbc.co.uk` → `bbc.co.uk`, not the
    * meaningless `co.uk` a naive last-2 rule yields (which would merge
    * every UK site into one "domain" for blocklists and per-domain
    * caps). Precedence mirrors the PSL algorithm: exception rules, then
    * 3-label suffixes, then 2-label suffixes and wildcard TLDs, then
    * the default rule (`*` — last label is the suffix), which IS the
    * last-2-label fallback; hosts that ARE a public suffix (no
    * registrant label) return themselves. The suffix tables ride the
    * plan as typed literals — broadcast-lookup semantics with zero
    * joins, the derivation stays one in-scan Column expression
    * (q98/q101's planted `.com/.org/.net` hosts take the default rule,
    * so the oracle contract is unchanged). */
  def registeredDomain(url: Column): Column = {
    val host = lower(substring_index(substring_index(
      substring_index(substring_index(url, "://", -1), "/", 1), "?", 1),
      ":", 1))
    val parts = split(host, "\\.")
    val np = size(parts)
    val last1 = element_at(parts, -1)
    val last2 = array_join(slice(parts, -2, 2), ".")
    val last3 = array_join(slice(parts, -3, 3), ".")
    when(np < 2, host)
      .when(array_contains(typedlit(PublicSuffix.Exceptions), last2), last2)
      .when(np >= 4 &&
        array_contains(typedlit(PublicSuffix.ThreeLabel), last3),
        array_join(slice(parts, -4, 4), "."))
      .when(np >= 3 &&
        (array_contains(typedlit(PublicSuffix.TwoLabel), last2) ||
          array_contains(typedlit(PublicSuffix.WildcardTlds), last1)),
        array_join(slice(parts, -3, 3), "."))
      .otherwise(last2)
  }

  /** (idCol, url_canon, domain) — extraction + canonicalization, one
    * row per URL, ready for the q98 gate or a domain rollup. */
  def canonicalUrls(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    extractUrls(docs, idCol, textCol)
      .select(col(idCol), canonicalize(col("url")).as("url_canon"),
        registeredDomain(col("url")).as("domain"))

  /** Per-doc link stats: URL count, DISTINCT canonical URL count,
    * distinct registered domains, and link density in exact integer
    * per-mille of whitespace tokens — the link-farm signal. One scan,
    * no explode-shuffle (aggregation is per-row over the extracted
    * array). */
  def linkStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // NULL text = no links (coalesce, not null-propagation): a stats row
    // per input row, zeros for the unscannable
    val urls = urlArray(textCol)
    docs.select(col(idCol),
      size(urls).cast("long").as("n_urls"),
      size(array_distinct(transform(urls, canonicalize _))).cast("long")
        .as("n_canon"),
      size(array_distinct(transform(urls, registeredDomain _))).cast("long")
        .as("n_domains"),
      linkDensityMilli(textCol).as("link_density_milli"))
  }

  /** In-scan link density (integer per-mille of whitespace tokens) —
    * the expression form, for filter predicates that should not pay a
    * stats join ([[graft.pipeline.Curation]]'s URL gate). */
  def linkDensityMilli(textCol: String): Column = {
    val urls = urlArray(textCol)
    val nTok = coalesce(graft.functions.TokenStats(col(textCol))
      .getField("n_tokens").cast("long"), lit(0L))
    when(nTok === 0, lit(0L))
      .otherwise(call_function("div", size(urls).cast("long") * 1000, nTok))
  }

  /** Per-domain rollup: (domain, n_urls, n_docs) over the corpus — the
    * table a blocklist decision reads. One explode + one hash agg on
    * the (id, domain) pairs; text never leaves the scan. */
  def domainStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    canonicalUrls(docs, idCol, textCol)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col(idCol)).as("n_docs"))

  /** Per-domain document cap — the host-level crowding control of the
    * crawl pipelines (keep at most `cap` pages per registered domain,
    * so link farms and mirrors cannot crowd the long tail out of a
    * token budget): each document's HOME domain is the registered
    * domain of its FIRST extracted URL (the crawl-source stand-in for
    * a corpus whose provenance URL rides in the text), and within a
    * domain the survivors are chosen CONTENT-ADDRESSED — smallest
    * polyhash(id), ascending-id ties, the q53 discipline — so the kept
    * set is a deterministic function of the corpus, never of
    * partitioning or arrival order. Documents with NO URL are EXEMPT
    * (kept, NULL domain/pick): they have no host identity to crowd on,
    * and silently capping the no-URL group would conflate unrelated
    * documents under one key.
    *
    * Scale shape: the domain derivation rides the scan (in-scan Column
    * arithmetic, no UDF); the per-domain selection is the [[TopKAgg]]
    * shape, NOT a window sort — map-side partial aggregation keeps
    * ≤ cap (hash, id) pairs per domain per partition, so the exchange
    * carries O(domains · cap · partitions) rows and a mega-domain (the
    * exact skew the cap exists to suppress) never sorts its full row
    * set. The smallest-hash order rides the bounded MAX-heap as the
    * bitwise complement `~hash` — an overflow-free order-reversing
    * bijection on Long (unary negation would misplace Long.MinValue).
    * Output is the ids-only selection table (idCol, domain, pick) with
    * `pick` the 1-based hash rank inside the domain; callers rejoin
    * the corpus by id, so document text never crosses the exchange. */
  def perDomainCap(docs: DataFrame, idCol: String, textCol: String,
                   cap: Int): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val urls = urlArray(textCol)
    val withDom = docs.select(col(idCol).cast("long").as("_id"),
      when(size(urls) > 0, registeredDomain(element_at(urls, 1)))
        .as("domain"))
    val linked = withDom.filter(col("domain").isNotNull)
      .select(col("domain"),
        bitwise_not(graft.functions.TextAnalysis.strHash(
          col("_id").cast("string"))).as("s"),
        col("_id"))
      .as[(String, Long, Long)]
    val kept = linked.groupByKey(_._1)
      .agg(TopKAgg.topKLong(cap)((t: (String, Long, Long)) =>
        (t._2, t._3)).toColumn.name("picks"))
      .toDF("domain", "picks")
      .select(col("domain"), posexplode(col("picks")))
      .select(col("col._2").as("_id"), col("domain"),
        (col("pos") + 1).cast("long").as("pick"))
    val exempt = withDom.filter(col("domain").isNull)
      .select(col("_id"), col("domain"), lit(null).cast("long").as("pick"))
    kept.unionByName(exempt).withColumnRenamed("_id", idCol)
  }

  /** Every dot-suffix of a URL's host, longest first: for
    * `a.user.github.io` → `[a.user.github.io, user.github.io,
    * github.io, io]`. Pure in-scan arithmetic (`sequence` +
    * column-`slice`); the blocklist match walks this chain so a
    * platform-level entry matches every subdomain regardless of where
    * the PSL places the registrant cut. */
  private[graft] def hostSuffixes(url: Column): Column = {
    val host = lower(substring_index(substring_index(
      substring_index(substring_index(url, "://", -1), "/", 1), "?", 1),
      ":", 1))
    val parts = split(host, "\\.")
    transform(sequence(lit(1), size(parts)),
      k => array_join(slice(parts, -k, k), "."))
  }

  /** Drop every document containing a link to a BLOCKED domain. An
    * entry matches when it equals ANY dot-suffix of a linked host —
    * not just the PSL registered domain — so `github.io` (a
    * private-registry suffix, where `registeredDomain` returns
    * `user.github.io`) still blocks every `*.github.io` page, and
    * `bbc.co.uk` blocks `www.bbc.co.uk` exactly as before. Suffix
    * matching is the blocklist contract crawl pipelines expect
    * (an entry blocks the whole subtree under it); the PSL upgrade
    * must not silently un-block platform-level entries.
    *
    * The blocklist is a broadcast-scale set evaluated IN-SCAN
    * (`exists` over the host's suffix chain against an array
    * literal) — no join, no shuffle; the decision is per-row like the
    * quality filters. NULL-text rows SURVIVE (nothing to block —
    * coalesced, so three-valued logic cannot silently drop them; the
    * null-drop decision belongs to the quality stage, not a link
    * filter). */
  def dropBlockedDomains(docs: DataFrame, idCol: String, textCol: String,
                         blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "empty blocklist: nothing to do — " +
      "call sites should skip the stage instead of no-op filtering")
    val urls = urlArray(textCol)
    val blockedLit = typedlit(blocked.map(_.toLowerCase))
    docs.filter(!exists(urls, u =>
      exists(hostSuffixes(u), s => array_contains(blockedLit, s))))
  }
}
