package graft.ext

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** URL canonicalization + canonical-URL dedup — the first dedup pass of
  * every web-crawl curation pipeline (CommonCrawl/C4/RefinedWeb class):
  * before any content hashing, recrawls and syndicated mirrors of the
  * SAME page are collapsed by normalizing their URLs. The testdata has
  * no URL column, so each document gets a DETERMINISTIC planted URL
  * (the plantedCorpus pattern shared with text_html_strip/text_pii_scrub):
  * ~3 docs per article id wearing the real-world variant costumes —
  * scheme/host case, default ports, `www.`, trailing slash, fragments,
  * `utm_*`/click-id tracking params — plus one variant whose `?page=2`
  * is a GENUINE query param that must survive and keep the URL distinct.
  *
  * Canonicalization policy (each step a documented, replayable rule):
  * scheme dropped (protocol-insensitive dedup — http/https mirrors are
  * the same page), host lowercased, default port (`:80` http / `:443`
  * https) stripped, leading `www.` stripped, trailing slashes on a
  * non-root path stripped, fragment dropped, tracking params
  * (`utm_*`, `fbclid`, `gclid`) removed with remaining params kept in
  * order. Every regex stays in the Java∩RE2 common dialect so the
  * DuckDB oracle runs the literally-identical patterns.
  *
  * Scale: canonicalization is a shuffle-free codegen'd per-row regexp
  * chain; the dedup is ONE hash aggregate on the canonical key with
  * map-side combine — at 100 TB the groupBy carries one row per
  * (canonical URL, partition), never the raw crawl. No window, no join.
  */
object UrlOps {

  /** Planted raw URL for a document row — variant by `doc_id % 6`,
    * article identity by `doc_id DIV 3` (so consecutive docs share an
    * article and the dedup has real groups to find). The site
    * (`src<n>.example.org`) derives from the ARTICLE id — the same
    * article lives on the same site whatever crawl batch (= `source`
    * column) each copy arrived in. */
  def plantedUrl(docId: Column): Column = {
    // Integer division in the DECIMAL domain, not floor(double) —
    // keeps the arithmetic bit-exact against the DuckDB oracle's
    // `doc_id // 3` for all NON-NEGATIVE long ids (floating floor
    // diverges past 2^53; r12 ADVICE). Scope: doc_ids are >= 0 by the
    // testdata contract; on a negative id floor(-7/3) = -3 while this
    // DuckDB's `//` truncates to -2 (measured, r13) — floor == // only
    // holds on the non-negative domain this runs in.
    val artId = floor(docId.cast(DecimalType(20, 0)) / 3).cast(LongType)
    val art = artId.cast(StringType)
    val site = concat(lit("src"), (artId % 20).cast(StringType))
    val siteUp = upper(site)
    val v = docId % 6
    when(v === 0, concat(lit("https://"), site,
        lit(".example.org/a/"), art))
      .when(v === 1, concat(lit("HTTPS://"), siteUp,
        lit(".Example.Org:443/a/"), art))
      .when(v === 2, concat(lit("https://www."), site,
        lit(".example.org/a/"), art, lit("/")))
      .when(v === 3, concat(lit("https://"), site,
        lit(".example.org/a/"), art, lit("?utm_source=feed&utm_campaign=c#sec")))
      .when(v === 4, concat(lit("http://"), site,
        lit(".EXAMPLE.org:80/a/"), art))
      .otherwise(concat(lit("https://"), site,
        lit(".example.org/a/"), art, lit("?page=2&utm_medium=em")))
  }

  /** The planted-URL arithmetic as DuckDB SQL (doc_id // 3 = article,
    * doc_id % 6 = variant, site from the article id) — shared by both
    * oracle queries. */
  val PlantedUrlSql: String = """
      CASE doc_id % 6
        WHEN 0 THEN 'https://src' || ((doc_id // 3) % 20) || '.example.org/a/' || (doc_id // 3)
        WHEN 1 THEN 'HTTPS://SRC' || ((doc_id // 3) % 20) || '.Example.Org:443/a/' || (doc_id // 3)
        WHEN 2 THEN 'https://www.src' || ((doc_id // 3) % 20) || '.example.org/a/' || (doc_id // 3) || '/'
        WHEN 3 THEN 'https://src' || ((doc_id // 3) % 20) || '.example.org/a/' || (doc_id // 3) || '?utm_source=feed&utm_campaign=c#sec'
        WHEN 4 THEN 'http://src' || ((doc_id // 3) % 20) || '.EXAMPLE.org:80/a/' || (doc_id // 3)
        ELSE 'https://src' || ((doc_id // 3) % 20) || '.example.org/a/' || (doc_id // 3) || '?page=2&utm_medium=em'
      END"""

  /** Lowercased host with default port and `www.` stripped. */
  def canonicalHost(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val noPort = when(scheme === "http",
        regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    regexp_replace(noPort, "^www\\.", "")
  }

  /** Full canonical key: host + path (trailing slashes stripped, root
    * kept as `/`) + surviving query params (tracking removed, order
    * preserved). Scheme and fragment are gone by policy. A string with
    * no parseable `scheme://host` prefix canonicalizes to ITSELF
    * (exact-string dedup for unparseable URLs — the explicit fallback,
    * never a silent empty-host collision bucket; r12 review). */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val path0 = regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val path1 = regexp_replace(path0, "/+$", "")
    val path = when(path1 === "", lit("/")).otherwise(path1)
    val q0 = regexp_extract(noFrag, "(\\?.*)$", 1)
    val q1 = regexp_replace(q0,
      "[?&](utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*", "")
    val q2 = regexp_replace(q1, "^&", "?")
    val query = when(q2 === "?", lit("")).otherwise(q2)
    when(canonicalHost(url) === "", url)
      .otherwise(concat(canonicalHost(url), path, query))
  }

  /** The same canonicalization as DuckDB SQL — literally the same regex
    * patterns ('g' = replace-all, which Spark's regexp_replace does by
    * default). Staged through CTEs (nf = fragment-stripped) so both
    * oracle queries share one readable pipeline:
    * p(raw) → n(nf) → c(url_canon, host). */
  private val CanonCtesSql: String = s"""
      p AS (SELECT doc_id, ${PlantedUrlSql} AS raw_url
            FROM documents),
      n AS (SELECT doc_id, raw_url,
                   regexp_replace(raw_url, '#.*$$', '') AS nf
            FROM p),
      h AS (SELECT doc_id, raw_url, nf,
                   regexp_replace(
                     CASE WHEN lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'http'
                          THEN regexp_replace(lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':80$$', '')
                          WHEN lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'https'
                          THEN regexp_replace(lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':443$$', '')
                          ELSE lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) END,
                     '^www\\.', '') AS host,
                   regexp_replace(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$$', '') AS path1,
                   regexp_replace(regexp_replace(regexp_extract(nf, '(\\?.*)$$', 1), '[?&](utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*', '', 'g'), '^&', '?') AS q2
            FROM n),
      c AS (SELECT doc_id, raw_url, host,
                   CASE WHEN host = '' THEN raw_url
                        ELSE host
                          || (CASE WHEN path1 = '' THEN '/' ELSE path1 END)
                          || (CASE WHEN q2 = '?' THEN '' ELSE q2 END) END
                     AS url_canon
            FROM h)"""

  /** The curation projection both domain passes consume: canonical
    * columns AND the trained quality score from one map-only pass over
    * (doc_id, text) — zero joins, zero shuffles, 4 narrow columns. */
  private[graft] def canonScored(docs: DataFrame): DataFrame = {
    val raw = plantedUrl(col("doc_id"))
    TextAnalysis.withQualityScore(
      docs.select(col("doc_id"), col("text"),
        canonicalUrl(raw).as("url_canon"),
        canonicalHost(raw).as("host")))
      .select("doc_id", "host", "url_canon", "score")
  }

  /** df-in core: per-doc canonicalized frame over any frame with a
    * doc_id column (the planted URL derives from it) — the library
    * API; QueryDefs and the GrowthSpec `url_dedup` pin both bind it. */
  def canonicalized(docs: DataFrame): DataFrame = {
    val raw = plantedUrl(col("doc_id"))
    docs.select(col("doc_id"), raw.as("raw_url"),
      canonicalUrl(raw).as("url_canon"),
      canonicalHost(raw).as("host"))
  }

  /** df-in core: dedup groups over a [[canonicalized]] frame — one
    * map-side-combined hash aggregate on the canonical key. */
  def dedupGroupsOf(c: DataFrame): DataFrame =
    c.groupBy("url_canon")
      .agg(min(col("host")).as("host"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("raw_url")).as("n_variants"),
        min(col("doc_id")).as("keep_doc_id"))

  /** Per-doc canonical mapping — the map-only witness of every rule. */
  val urlNormalize = QueryDef(
    "url_normalize",
    (s, dir) => canonicalized(Tables(s, dir, "documents")),
    Some(s"""
      WITH ${CanonCtesSql}
      SELECT doc_id, raw_url, url_canon, host
      FROM c"""))

  /** Canonical-URL dedup groups: one row per canonical URL with the
    * group size, the number of distinct raw spellings collapsed, and
    * the keep rule (min doc_id — first-crawled wins). Multi-doc groups
    * witness every collapse rule; the `?page=2` singletons witness
    * non-collapse. */
  val urlDedup = QueryDef(
    "url_dedup",
    (s, dir) => dedupGroupsOf(canonicalized(Tables(s, dir, "documents"))),
    Some(s"""
      WITH ${CanonCtesSql}
      SELECT url_canon, min(host) AS host,
             count(*) AS n_docs,
             count(DISTINCT raw_url) AS n_variants,
             min(doc_id) AS keep_doc_id
      FROM c GROUP BY url_canon"""))

  /** Per-DOMAIN curation stats (r13) — the aggregate a URL-level
    * filter (the RefinedWeb/CCNet curation stage) consumes to decide
    * which hosts to keep, throttle, or blocklist: doc count, distinct
    * canonical URLs (host-level dup rate = n_docs − n_urls), and the
    * host's total + mean trained quality score (mean as exact
    * fixed-point milli-units: integer `div`, no float drift). One
    * map-side-combined hash aggregate on the host — the group space is
    * DOMAINS, which at 100 TB is millions of rows where the corpus is
    * billions, so the shuffle carries per-(host, partition) partials
    * only. Composes the canonicalizer with the trained quality scorer
    * in ONE map-only projection ([[canonScored]] — r14: the previous
    * spelling joined `canonicalized(docs)` with `qualityScoreOf(docs)`
    * on doc_id, a self-join between two scans of the same corpus; both
    * column families derive row-locally from (doc_id, text), so the
    * join bought nothing but an exchange). */
  def domainStatsOf(docs: DataFrame): DataFrame =
    statsOver(canonScored(docs))

  /** The domains-sized aggregate over an already-built [[canonScored]]
    * projection (shared with [[domainFilter]], whose materialized
    * projection feeds this AND the apply join). */
  private def statsOver(proj: DataFrame): DataFrame =
    proj
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url_canon")).as("n_urls"),
        sum(col("score")).as("score_sum"))
      .select(col("host"), col("n_docs"), col("n_urls"),
        // overflow-safe exact truncating mean — matches this DuckDB's
        // measured `//` on signed sums (score sums DO go negative for
        // low-quality hosts) without the score_sum*1000 long overflow
        // a billion-doc host would hit; see Relational.meanMilli
        graft.ops.Relational.meanMilli("score_sum", "n_docs")
          .as("mean_score_milli"))

  val domainStats = QueryDef(
    "url_domain_stats",
    (s, dir) => domainStatsOf(Tables(s, dir, "documents")),
    Some(s"""
      WITH ${CanonCtesSql},
      ${TextAnalysis.qsScoreSql("documents")}
      SELECT host, count(*) AS n_docs,
             count(DISTINCT url_canon) AS n_urls,
             CAST((sum(score) * 1000) // count(*) AS BIGINT)
               AS mean_score_milli
      FROM c JOIN qss USING (doc_id)
      GROUP BY host"""))

  /** Domain-level quality FILTER (r13) — the decide-and-apply half of
    * [[domainStats]]: a document survives only if its HOST's aggregate
    * verdict does (mean trained-quality score above the cut and enough
    * docs to trust the mean) — the curation rule that drops a spam
    * domain wholesale even when individual pages sneak past the
    * per-doc scorer. Two-pass shape: the domains-sized stats frame
    * (millions of rows at 100 TB, vs billions of docs) BROADCASTS onto
    * the corpus scan — the corpus itself never shuffles (PlanSpec
    * pins broadcast + no corpus exchange).
    *
    * Scan economy (r13 verdict #3): the `(doc_id, host, url_canon,
    * score)` projection is MATERIALIZED once and consumed by both the
    * stats aggregate and the apply join — previously each pass
    * re-scanned the corpus and re-ran canonicalization + scoring. At
    * 100 TB the trade is decisive: the raw corpus is dominated by the
    * `text` column the projection drops, so one text scan + one write
    * of a ~50-byte/row projection + two column-pruned re-reads (stats
    * touches host/url_canon/score, apply touches doc_id/host) beats
    * two full text scans each paying the regex/scoring chain again.
    * Local measurement in SCALE.md (r14). */
  def domainFilter(docs: DataFrame, minDocs: Long): DataFrame = {
    val proj = graft.Work.materialize("url_domain_proj", canonScored(docs))
    val stats = statsOver(proj)
    // RELATIVE cut — keep hosts at or above the integer mean of host
    // means: splits the domain population at any corpus scale or score
    // calibration (an absolute threshold is a config decision; the
    // witness needs a rule that is never vacuous). The cut is one more
    // domains-sized aggregate; exact integer arithmetic keeps the
    // boundary engine-portable.
    val cut = stats.agg(
      expr("sum(mean_score_milli) div count(*)").as("cut"))
    val verdict = stats.crossJoin(broadcast(cut))
      .filter(col("mean_score_milli") >= col("cut") &&
        col("n_docs") >= minDocs)
      .select("host")
    proj
      .join(broadcast(verdict), Seq("host"))
      .select("doc_id", "host")
  }

  val domainFilterQ = QueryDef(
    "url_domain_filter",
    (s, dir) => domainFilter(Tables(s, dir, "documents"), minDocs = 10L),
    Some(s"""
      WITH ${CanonCtesSql},
      ${TextAnalysis.qsScoreSql("documents")},
      stats AS (
        SELECT host, count(*) AS n_docs,
               CAST((sum(score) * 1000) // count(*) AS BIGINT) AS m
        FROM c JOIN qss USING (doc_id)
        GROUP BY host),
      verdict AS (
        SELECT host FROM stats
        WHERE m >= (SELECT CAST(sum(m) // count(*) AS BIGINT) FROM stats)
          AND n_docs >= 10)
      SELECT c.doc_id, c.host
      FROM c JOIN verdict USING (host)"""))

  val all: Seq[QueryDef] =
    Seq(urlNormalize, urlDedup, domainStats, domainFilterQ)
}
