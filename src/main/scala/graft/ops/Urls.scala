package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization for crawl pipelines — the dedup-by-URL and
  * domain-grouping prerequisites (every public crawl pipeline dedups on
  * a normalized URL before it ever looks at text, and filters/buckets by
  * domain). Pure `regexp_extract`/`regexp_replace` chains in the
  * Java∩RE2 subset: scan-local, codegen'd, oracle-replicable.
  *
  * Compose: `df.withColumn("u", Urls.normalize(col("url")))` then
  * [[Dedup.exact]] on `u` for URL dedup, or group by [[Urls.host]] /
  * [[Urls.registeredDomain]] for per-domain stats and blocklists.
  */
object Urls {

  private val TrackingRe = "(?:utm_[A-Za-z]+|fbclid|gclid)"
  private val SchemePrefixRe = "^[A-Za-z][A-Za-z0-9+.-]*://"

  /** Lowercased host: authority minus userinfo and port. Empty string
    * when the input has no `scheme://` prefix.
    */
  def host(url: Column): Column = {
    val auth = regexp_extract(url, SchemePrefixRe + "([^/?#]*)", 1)
    lower(regexp_replace(regexp_replace(auth, "^[^@/]*@", ""), ":[0-9]+$", ""))
  }

  /** Registered (registrable) domain of the URL's host, resolved
    * against the compiled public-suffix-list snapshot ([[Psl]]):
    * `foo.co.uk` → `foo.co.uk`, `a.b.github.io` → `b.github.io`,
    * `sub.example.org` → `example.org`. Hosts under TLDs with no listed
    * multi-label rule fall back to the last two labels (the spec's
    * implicit `*` default). "" when the host is empty or is itself a
    * public suffix. Codegen'd static-table probe — stays scan-local.
    */
  def registeredDomain(url: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.spark.PslDomainExpression(
        org.apache.spark.sql.GraftBridge.expression(host(url))))

  /** Canonical URL: fragment stripped; scheme and host lowercased;
    * userinfo dropped; default ports (:80 http, :443 https) dropped;
    * tracking params (`utm_*`, `fbclid`, `gclid`) removed with `?`/`&`
    * bookkeeping; empty query stripped; empty path becomes `/`. Inputs
    * without a `scheme://` prefix pass through unchanged (not a URL —
    * don't invent one).
    */
  def normalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = lower(regexp_replace(
      regexp_extract(noFrag, SchemePrefixRe + "([^/?#]*)", 1), "^[^@/]*@", ""))
    val authNoPort = when(scheme === "http", regexp_replace(auth, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth, ":443$", ""))
      .otherwise(auth)
    val rest = regexp_replace(noFrag, SchemePrefixRe + "[^/?#]*", "")
    // tracking-param removal: amp-joined occurrences first, then a
    // leading `?track=…&` (promote the next param to `?`), then a lone
    // `?track=…`, then a dangling `?`
    val r1 = regexp_replace(rest, "&" + TrackingRe + "=[^&#]*", "")
    val r2 = regexp_replace(r1, "\\?" + TrackingRe + "=[^&#]*&", "?")
    val r3 = regexp_replace(r2, "\\?" + TrackingRe + "=[^&#]*$", "")
    val r4 = regexp_replace(r3, "\\?$", "")
    val path = when(r4 === "", lit("/")).otherwise(r4)
    when(scheme === "", url)
      .otherwise(concat(scheme, lit("://"), authNoPort, path))
  }

  /** Domain blocklist filter (the RefinedWeb/C4 URL-filtering stage):
    * drop rows whose REGISTERED domain appears in `blocked`. Small
    * lists compile into a codegen'd `isin` literal set (zero shuffles);
    * rows with no extractable domain (non-URLs, bare suffixes) are
    * KEPT — a blocklist removes what it names, nothing else.
    */
  def filterBlockedDomains(df: org.apache.spark.sql.DataFrame, urlCol: String,
      blocked: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(blocked.nonEmpty, "empty blocklist")
    val d = registeredDomain(col(urlCol))
    // null url → null domain → `!isin` evaluates null and used to DROP
    // the row, violating "a blocklist removes what it names, nothing
    // else" and disagreeing with the anti-join variant (null keys never
    // match, so filterBlockedDomainsDf keeps them) — keep nulls here too
    df.filter(d.isNull || !d.isin(blocked.map(_.toLowerCase): _*))
  }

  /** [[filterBlockedDomains]] against a blocklist TABLE — the
    * million-domain case where an `isin` literal is no longer sane:
    * left-anti join on the domain, broadcast when the list fits
    * (Spark's size estimate decides; hint upstream for certainty).
    * `blocklist` must expose a `domain` column, pre-lowercased.
    */
  def filterBlockedDomainsDf(df: org.apache.spark.sql.DataFrame, urlCol: String,
      blocklist: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // a user __rd would be overwritten by the staging withColumn and
    // then dropped from the pass-through output — silent column loss
    Ids.requireNoReservedNames("filterBlockedDomainsDf", "input",
      df.columns.toSeq, Set("__rd"), df.sparkSession)
    df.withColumn("__rd", registeredDomain(col(urlCol)))
      .join(blocklist.select(col("domain").as("__rd")), Seq("__rd"), "left_anti")
      .drop("__rd")
  }

  /** Per-registered-domain corpus rollup — the table domain blocklists
    * and per-domain mixture weights are curated FROM: doc count, token
    * and char volume, and each domain's share of corpus docs. One scan
    * (host/PSL probes are codegen'd scalars) + one groupBy whose
    * shuffle carries (domain, tokens, chars) triples, never text; the
    * share window runs over the already-tiny per-domain table. Rows
    * with no extractable domain aggregate under "" — their volume is a
    * crawl-hygiene signal in itself, not noise to drop silently.
    */
  def domainReport(df: DataFrame, urlCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    df.select(
        registeredDomain(col(urlCol)).as("domain"),
        graft.ops.TextStats.wsTokens(col(textCol)).cast("long").as("__tok"),
        length(col(textCol)).cast("long").as("__chars"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"),
        sum(col("__chars")).as("n_chars"))
      .withColumn("doc_share",
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(w), 6))
      .orderBy(col("n_docs").desc, col("domain"))
  }
}
