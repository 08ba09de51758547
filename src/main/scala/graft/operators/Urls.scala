package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + canonical-URL dedup — the first dedup gate of a
  * web-crawl training pipeline (a CommonCrawl-scale corpus carries the
  * same page under `http`/`https`, host-case, default-port, trailing-slash,
  * tracking-parameter and fragment variants; canonicalizing before any
  * content hash removes the bulk of byte-identical refetches for the cost
  * of a map-side projection).
  *
  * The canonicalizer is a pure `Column` expression chain (regexp parse +
  * rebuild — no UDF, stays inside WholeStageCodegen), so at 100 TB it
  * rides the scan: canonical keys are produced as the rows are read and
  * the only shuffle is the final keep-min-id aggregate on the canonical
  * key itself.
  *
  * Rules applied (RFC 3986 §6 normalization subset every crawler uses):
  *   - scheme and host lowercased (path/query stay case-sensitive)
  *   - default ports stripped (`:80` for http, `:443` for https)
  *   - fragment stripped
  *   - tracking params removed (`utm_*`, `fbclid`, `gclid`), `?` dropped
  *     if the query becomes empty
  *   - trailing slash stripped from non-root paths; empty path -> `/`
  */
object Urls {

  /** Lowercased host of a URL column, default port stripped (scheme-aware:
    * `:80` for http, `:443` for https). Empty string for non-URLs. */
  def host(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
  }

  /** Registrable-domain approximation: [[host]] minus a leading `www.` —
    * the grouping key of per-domain crawl statistics (blocklists, caps,
    * quality priors are all kept at this granularity). */
  def domain(url: Column): Column =
    regexp_replace(host(url), "^www\\.", "")

  /** Canonical form of a URL column. Non-URL strings (no `scheme://`) pass
    * through lowercase-scheme parsing unchanged enough to stay stable:
    * they canonicalize to themselves minus fragment/tracking junk. */
  def canonical(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = Urls.host(url)
    // everything after authority: path + query + fragment
    val rest = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    val noFragment = regexp_replace(rest, "#.*$", "")
    // drop tracking params wherever they sit in the query, then repair
    // separators: "?&" -> "?", dangling "?"/"&" -> ""
    val noTracking = regexp_replace(noFragment,
      "(?<=[?&])(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*&?", "")
    val repaired = regexp_replace(regexp_replace(noTracking,
      "\\?&", "?"), "[?&]$", "")
    // split path from query to strip the trailing slash on the path only
    val path0 = regexp_extract(repaired, "^([^?]*)", 1)
    val query = regexp_extract(repaired, "^[^?]*(\\?.*)?$", 1)
    val path = when(path0 === "" || path0 === "/", lit("/"))
      .otherwise(regexp_replace(path0, "/$", ""))
    when(scheme === "", url).otherwise(
      concat(scheme, lit("://"), host, path, query))
  }

  /** Canonical-URL dedup report: one row per canonical URL with the keeper
    * (minimum id — the crawler's first fetch) and the variant count. The
    * aggregate is partial-combined on the canonical key, so the shuffle
    * carries one row per distinct canonical URL per map partition, not one
    * per fetched page. */
  def canonicalDedup(df: DataFrame)
      : DataFrame = {
    val idCol = "doc_id"
    val urlCol = "url"
    df.select(col(idCol).cast("long").as("id"),
        canonical(col(urlCol)).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("id")).as("keeper_id"),
        count(lit(1)).as("n_variants"))
  }
}
