package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{fn, host_of_url}

/** URL/domain blocklist filtering — the CCNet/RefinedWeb "UT1 blocklist"
  * step: drop every document whose host falls under a blocked domain,
  * where blocking `example.com` must catch `a.b.example.com`.
  *
  * Mechanics: explode each doc's host into its dot-suffix chain
  * (`domain_suffixes`, ≤ label-count rows per doc) and semi-join the
  * blocklist on exact string equality. That turns subdomain matching into
  * a plain hash equi-join: no LIKE scans, no per-pattern regex, and the
  * blocklist side (unique domains) is the natural broadcast/build side at
  * any realistic blocklist size (UT1 is ~4M entries — megabytes). A doc
  * with any blocked suffix is dropped exactly once (semi join on the
  * distinct doc ids, then anti join back), so the explode never inflates
  * the output. */
object UrlFilter {

  /** All dot-suffixes of a hostname, most-specific first:
    * `a.b.example.com -> [a.b.example.com, b.example.com, example.com,
    * com]`; label count is the split of the '.'-separated name (empty
    * labels kept, so a malformed `a..com` produces its literal suffixes). */
  def domain_suffixes(c: Column): Column = fn("domain_suffixes", c)

  /** Ids of docs whose `urlCol` host has a suffix in `blocklist`
    * (`domainCol`, lowercase exact labels). */
  def blockedDocs(docs: DataFrame, blocklist: DataFrame,
                  urlCol: String = "url", idCol: String = "doc_id",
                  domainCol: String = "domain"): DataFrame = {
    val bl = blocklist.select(col(domainCol).as("suffix")).distinct()
    docs.select(col(idCol),
        explode(domain_suffixes(host_of_url(col(urlCol)))).as("suffix"))
      .join(bl, Seq("suffix"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** The filter: docs minus [[blockedDocs]] (one anti join). */
  def dropBlockedHosts(docs: DataFrame, blocklist: DataFrame,
                       urlCol: String = "url", idCol: String = "doc_id",
                       domainCol: String = "domain"): DataFrame =
    docs.join(blockedDocs(docs, blocklist, urlCol, idCol, domainCol),
      Seq(idCol), "left_anti")
}
