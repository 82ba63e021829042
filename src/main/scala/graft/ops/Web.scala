package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Web-corpus URL hygiene — the normalization pass a crawl-derived
  * training corpus runs before any URL-keyed dedup or per-domain
  * accounting. Crawls see the same page under dozens of spellings
  * (case-shifted hosts, `www.` prefixes, default ports, tracking
  * parameters appended by every referrer, fragments): URL-exact dedup
  * without canonicalization silently keeps all of them, and per-domain
  * quotas (q61) meter the wrong key.
  *
  * Everything here is a pure codegen'd column expression over one row —
  * regexp extraction plus higher-order array ops (`filter`/
  * `array_sort`/`array_join`) for the query-parameter rewrite. At
  * 100 TB this fuses into whatever scan precedes it: no shuffle, no
  * UDF, no explode (the parameter list lives and dies inside one
  * expression tree). The regex subset is RE2-safe so the DuckDB oracle
  * replays it exactly.
  *
  * Canonicalization rules (the common subset of RFC 3986 normalization
  * plus crawl folklore):
  *  - scheme and host lowercased; a leading `www.` dropped;
  *  - an explicit default port dropped (`:443` on https, `:80` on
  *    http); any other explicit port kept;
  *  - the path's trailing slash dropped (except the bare root `/`;
  *    an empty path becomes `/`);
  *  - the fragment dropped;
  *  - tracking parameters (`utm_*`, `fbclid`, `gclid`) removed, the
  *    survivors sorted for order-independence and rejoined — two URLs
  *    differing only in referrer decoration or parameter order
  *    canonicalize identically.
  */
object Web {

  private val TrackingParam = "^(utm_[^=]*|fbclid|gclid)="

  /** `scheme://` prefix, lowercased; "" when the value is not URL-shaped. */
  def urlScheme(url: Column): Column = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))

  /** host[:port] as written (case preserved; stripped/parsed below). */
  def urlHostPort(url: Column): Column = regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1)

  /** Path as written ("" when absent). */
  def urlPath(url: Column): Column = regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)

  /** Query string without the `?` ("" when absent); fragment excluded. */
  def urlQuery(url: Column): Column = regexp_extract(url, "\\?([^#]*)", 1)

  /** Lowercased host with any `:port` and a leading `www.` removed. */
  def canonicalHost(url: Column): Column =
    regexp_replace(regexp_replace(lower(urlHostPort(url)), ":[0-9]+$", ""), "^www\\.", "")

  /** Explicit port as written ("" when absent). */
  def urlPort(url: Column): Column = regexp_extract(urlHostPort(url), ":([0-9]+)$", 1)

  /** Registered domain approximation: the last two host labels. (A real
    * crawl pipeline consults the public-suffix list — a few-thousand-row
    * broadcast join; the two-label rule is the deterministic stand-in
    * with identical plumbing.) */
  def registeredDomain(host: Column): Column = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)

  /** Canonical path: "" → "/", otherwise the trailing slash dropped
    * (the `(.+)/$` group keeps the bare root intact). */
  private def canonicalPath(url: Column): Column = {
    val p = urlPath(url)
    when(p === "", "/").otherwise(regexp_replace(p, "(.+)/$", "$1"))
  }

  /** Canonical query: tracking params removed, survivors sorted and
    * rejoined; "" when nothing survives. */
  def canonicalQuery(url: Column): Column =
    array_join(
      array_sort(filter(split(urlQuery(url), "&"),
        x => x =!= "" && !x.rlike(TrackingParam))), "&")

  /** True when any tracking parameter is present in the query. */
  def hasTracking(url: Column): Column =
    urlQuery(url).rlike("(^|&)(utm_[^=]*|fbclid|gclid)=")

  /** The full canonical URL (see object doc for the rules). A value
    * that is not URL-shaped (no `scheme://host` prefix) canonicalizes
    * to NULL — the [[Privacy.maskIpv4]] totality rule: a garbage
    * `"://"` token must not become a mergeable dedup key that silently
    * collapses every malformed row into one group. */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = urlScheme(url)
    val host   = canonicalHost(url)
    val port   = urlPort(url)
    val defaultPort = (scheme === "https" && port === "443") ||
                      (scheme === "http"  && port === "80")
    val portPart  = when(port =!= "" && !defaultPort, concat(lit(":"), port)).otherwise("")
    val query     = canonicalQuery(url)
    val queryPart = when(query =!= "", concat(lit("?"), query)).otherwise("")
    when(scheme =!= "" && host =!= "",
      concat(scheme, lit("://"), host, portPart, canonicalPath(url), queryPart))
  }

  /** Deterministic messy-URL synthesis over the documents table — the
    * fixture both the engine and the DuckDB oracle build identically
    * from (doc_id, source, lang), exercising every rule: case-shifted
    * scheme and host, `www.`, default and non-default... (`:443`/`:80`
    * appear only as defaults here; WebSpec covers the kept-port case),
    * trailing slash, tracking-only and mixed query strings, fragments. */
  def syntheticUrl(docId: Column, source: Column, lang: Column): Column = {
    val scheme = when(docId % 3 === 0, "HTTPS").when(docId % 3 === 1, "https").otherwise("http")
    val www    = when(docId % 2 === 0, "WWW.").otherwise("")
    val port   = when(docId % 5 === 0,
      when(docId % 3 === 2, ":80").otherwise(":443")).otherwise("")
    val slash  = when(docId % 4 === 0, "/").otherwise("")
    val query  = when(docId % 3 === 0, concat(lit("?utm_source=feed&ref="), lang))
      .when(docId % 3 === 1, "?b=2&a=1&utm_campaign=x").otherwise("")
    val frag   = when(docId % 7 === 0, "#sec").otherwise("")
    concat(scheme, lit("://"), www, upper(source), lit(".Example.com"), port,
      lit("/docs/"), docId, slash, query, frag)
  }

  /** q106 fixture: two decorated spellings of the SAME page per page id
    * (`doc_id DIV 2`) — variant 0 case-shifted with `www.`, an explicit
    * default port, a trailing slash, a tracking param and a fragment;
    * variant 1 lowercase with a different tracking param — so every
    * page pair collides after canonicalization and NO pair collides
    * before it. The shared-page host is deliberately source-free
    * (mirror.example.com): the point is URL-keyed dedup, and pairing
    * across doc ids must not depend on the docs' source assignment. */
  def syntheticMirrorUrl(docId: Column): Column = {
    // doc ids are small positives: double division by 2 + truncation is
    // the exact DIV (no epoch-nanos magnitude concern here)
    val page = (docId / 2).cast("long")
    when(docId % 2 === 0,
      concat(lit("HTTPS://WWW.Mirror.Example.com:443/page/"), page,
        lit("/?utm_source=a&x=1#top")))
      .otherwise(concat(lit("https://mirror.example.com/page/"), page,
        lit("?x=1&gclid=g")))
  }

  /** q106: URL-keyed exact dedup AFTER canonicalization — the operation
    * q101 exists to enable. Per canonical URL: the number of raw
    * spellings collapsed, the keeper (min doc_id — q24/q80's keeper
    * rule), and whether any spelling carried tracking decoration.
    * Shape: one narrow canonicalize projection, one hash aggregate
    * keyed on the canonical URL — at 100 TB this is exactly the q24
    * exact-dedup plan with the canonical key computed in the map
    * stage. */
  def q106UrlDedup(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.documents(s, dir)
      .select(col("doc_id"), syntheticMirrorUrl(col("doc_id")).as("url_raw"))
    raw.select(col("doc_id"), col("url_raw"),
        canonicalizeUrl(col("url_raw")).as("canonical_url"),
        hasTracking(col("url_raw")).as("had_tracking"))
      .groupBy(col("canonical_url"))
      .agg(
        count(lit(1)).as("n_urls"),
        countDistinct(col("url_raw")).as("n_spellings"),
        min(col("doc_id")).as("keeper_doc_id"),
        bool_or(col("had_tracking")).as("any_tracking"))
      .orderBy(col("canonical_url"))
  }

  /** q101: URL canonicalization over the documents table — per doc the
    * raw synthesized URL, its canonical form, the canonical host, the
    * registered domain, and whether tracking decoration was present.
    * One narrow projection; the only exchange is the final global sort
    * the oracle-stable output order requires. */
  def q101UrlCanonicalize(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.documents(s, dir)
      .select(col("doc_id"),
        syntheticUrl(col("doc_id"), col("source"), col("lang")).as("url_raw"))
    raw.select(
        col("doc_id"), col("url_raw"),
        canonicalizeUrl(col("url_raw")).as("canonical_url"),
        canonicalHost(col("url_raw")).as("host"),
        registeredDomain(canonicalHost(col("url_raw"))).as("domain"),
        hasTracking(col("url_raw")).as("had_tracking"))
      .orderBy(col("doc_id"))
  }
}
