package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + per-URL recrawl dedup — the hygiene step before
  * any content-level dedup on Common-Crawl-style tables: the same page is
  * fetched across snapshots under trivially-different URLs (case in the
  * host, tracking params, fragments, trailing slash), and keeping one row
  * per canonical URL removes the bulk of recrawl duplicates for the cost
  * of ONE hash exchange — orders of magnitude cheaper than MinHash on the
  * same rows (reference dataflow: one record per url,
  * `fineweb/fineweb2_download.py:14-24`).
  *
  * Canonical form (each rule a codegen'd built-in chain, no UDF):
  *  1. drop the `#fragment`;
  *  2. lowercase the scheme and the host:port authority (path and query
  *     stay case-sensitive);
  *  3. strip a leading `www.`;
  *  4. strip an explicit default port (`:80` for http, `:443` for https);
  *  5. remove tracking query params (`utm_*`, `fbclid`, `gclid`) and
  *     collapse the leftover `?&`/`&&`/trailing delimiters;
  *  6. strip trailing slashes from the path.
  *
  * Non-goals, documented: query-param reordering, percent-decoding, IDN —
  * each changes byte-level semantics some sites depend on; canonicalize
  * conservatively and let content dedup catch the rest. Also a non-goal:
  * `userinfo@` authorities (r5 ADVICE) — the authority regex treats
  * `user:pass@host` as one unit, so userinfo is lowercased with the host
  * and a leading `www.` inside it would be stripped; credentialed URLs
  * are not crawl-corpus inputs, and preserving their byte semantics is
  * explicitly out of scope rather than silently half-handled.
  */
object UrlOps {

  private val TrackingParams = "(?i)([?&])(utm_[a-z0-9_]*|fbclid|gclid)=[^&#]*"

  def canonicalizeUrl(url: Column): Column = {
    // 1. fragment
    val noFrag = regexp_replace(url, "#.*$", "")
    // 5. tracking params, then delimiter cleanup (strictly after #-removal
    //    so params are never protected by a trailing fragment)
    val noTrack0 = regexp_replace(noFrag, TrackingParams, "$1")
    val noTrack = regexp_replace(
      regexp_replace(regexp_replace(noTrack0, "\\?&+", "?"), "&&+", "&"),
      "[?&]+$", "")
    // 2+3+4. rebuild scheme://authority with lowercase + www/port strip
    val scheme = lower(regexp_extract(noTrack, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val auth0 = lower(regexp_extract(noTrack, "^[^:/?#]+://([^/?#]*)", 1))
    val auth1 = regexp_replace(auth0, "^www\\.", "")
    val auth = when(scheme === "http", regexp_replace(auth1, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth1, ":443$", ""))
      .otherwise(auth1)
    val rest = regexp_replace(noTrack, "^[^:/?#]+://[^/?#]*", "")
    // 6. trailing slashes — ONLY when no query string follows: the pattern
    //    below must match the whole remainder and [^?] cannot cross a '?',
    //    so `?file=/docs/` (byte-significant query) is never touched while
    //    `/articol/` still canonicalizes to `/articol`
    def stripPathSlash(c: Column): Column =
      regexp_replace(c, "^([^?]*?)/+$", "$1")
    // a url without a scheme passes through untouched except rules 1/5/6
    when(scheme === "", stripPathSlash(noTrack))
      .otherwise(concat(scheme, lit("://"), auth, stripPathSlash(rest)))
  }

  /** One row per canonical URL: the newest by `tsCol`. `tsCol` must order
    * the rows of one canonical URL totally, or the survivor of a tie is
    * nondeterministic. A `max_by` aggregate behind ONE hash exchange on the
    * canonical URL: it partial-combines map-side (co-located recrawls
    * collapse before the shuffle) and never sorts, where a `row_number`
    * window would exchange and sort every row. `max_by` skips null-ts rows,
    * so a URL whose every ts is null yields null fields: `tsCol` is a crawl
    * timestamp and non-null by contract.
    *
    * The output carries the canonical form as `canon_url`; input columns
    * named `canon_url` or `_canon_url` are reserved (duplicated /
    * overwritten) — rename them first.
    */
  def keepLatestPerUrl(df: DataFrame, urlCol: String, tsCol: String): DataFrame = {
    val withC = df.withColumn("_canon_url", canonicalizeUrl(col(urlCol)))
    val dataCols = withC.columns.toSeq.filter(_ != "_canon_url")
    withC.groupBy(col("_canon_url"))
      .agg(max_by(struct(dataCols.map(col): _*), col(tsCol)).as("_row"))
      .select(dataCols.map(c => col(s"_row.$c").as(c)) :+
        col("_canon_url").as("canon_url"): _*)
  }
}
