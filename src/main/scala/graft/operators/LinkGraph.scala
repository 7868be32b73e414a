package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{html_anchors, html_links, host_of_url}

/**
 * Host-level web-graph operators over crawled pages — the link-structure
 * signals (degrees, PageRank) that web-scale quality/spam pipelines keep
 * beside content signals. (The reference engine has no crawl-graph
 * surface; this is part of the LLM-pipeline extension.)
 *
 * Scale shape: every step is an equi-join or a groupBy on the host key —
 * edge extraction is embarrassingly parallel ([[graft.core.text.HtmlExtract]]
 * link parsing per page), degree counting is one shuffle, and each
 * PageRank iteration is one join + one aggregation, checkpoint-pinned so
 * the plan does not grow with the iteration count (the
 * connectedComponents discipline).
 *
 * Determinism: PageRank runs in FIXED-POINT integer micro-units (1e-12 of
 * total mass) with floor division — the same discipline as the quality
 * classifier's long-gradient accumulation — so ranks are bit-identical
 * under any partitioning and an SQL oracle replays them exactly. (A
 * float implementation's per-partition sum order would wobble ranks in
 * the last ulps and make exact gating impossible.)
 */
object LinkGraph {

  /** dst-host resolution for one extracted href: absolute links — a
    * SCHEME PREFIX per RFC 3986 (`scheme://`), not "://" anywhere (a
    * relative `/redirect?to=https://x` must NOT take the embedded host) —
    * take their own host; protocol-relative `//host/path` links (common
    * in crawls) take theirs; anything else (path-relative, query,
    * fragment) resolves to the source host. */
  private def linkDstHost(src: org.apache.spark.sql.Column,
                          link: org.apache.spark.sql.Column) =
    when(link.rlike("^[A-Za-z][A-Za-z0-9+.\\-]*://"), host_of_url(link))
      .when(link.startsWith("//"),
        host_of_url(concat(lit("http:"), link)))
      .otherwise(src)

  /** Distinct host->host edges from crawled pages (urlCol, htmlCol):
    * src = host of the page url; dst per extracted `<a href>` via
    * [[linkDstHost]]. Self-loops and unparseable hosts drop. */
  def hostEdges(pages: DataFrame, urlCol: String = "url",
                htmlCol: String = "html"): DataFrame = {
    pages
      .select(host_of_url(col(urlCol)).as("src"),
        explode(html_links(col(htmlCol))).as("link"))
      .select(col("src"), linkDstHost(col("src"), col("link")).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
  }

  /** Per-link anchor rows (src, dst, anchor) — host resolution identical
    * to [[hostEdges]] ([[linkDstHost]]; self-loops and unparseable hosts
    * drop) but NOT deduplicated: every link occurrence keeps its anchor
    * text (possibly "" for image links). */
  def anchorEdges(pages: DataFrame, urlCol: String = "url",
                  htmlCol: String = "html"): DataFrame = {
    pages
      .select(host_of_url(col(urlCol)).as("src"),
        explode(html_anchors(col(htmlCol))).as("a"))
      .select(col("src"),
        linkDstHost(col("src"), col("a.href")).as("dst"),
        col("a.text").as("anchor"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
  }

  /** How the web DESCRIBES each host: (host, term, cnt) over lowercased
    * whitespace terms of incoming anchor text (self-links excluded via
    * [[anchorEdges]]) — the anchor-term profile used for host quality /
    * spam signals and alt-text-style description corpora. One explode +
    * one hash aggregation; scales as the number of (host, term) pairs. */
  def anchorTermCounts(pages: DataFrame, urlCol: String = "url",
                       htmlCol: String = "html"): DataFrame = {
    anchorEdges(pages, urlCol, htmlCol)
      .select(col("dst").as("host"),
        explode(split(lower(col("anchor")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("host", "term").agg(count(lit(1)).as("cnt"))
  }

  /** Per-host (host, out_degree, in_degree) over the distinct edge set;
    * hosts appearing only as source or only as target carry a zero. */
  def degrees(edges: DataFrame, srcCol: String = "src",
              dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val o = e.groupBy(col("src").as("host")).agg(count(lit(1)).as("out_degree"))
    val i = e.groupBy(col("dst").as("host")).agg(count(lit(1)).as("in_degree"))
    o.join(i, Seq("host"), "full_outer")
      .select(col("host"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  /** Deterministic fixed-point PageRank: (host, pr_micro) where pr_micro
    * is the rank in integer micro-units (total initial mass = 1e12).
    *
    * Update rule (simplified PageRank, no dangling-mass redistribution —
    * sinks leak, the standard Spark-example formulation):
    *   r'(v) = (scale * (100-dampPct)) div (100 * N)
    *           + (dampPct * Σ_{u->v} (r(u) div outdeg(u))) div 100
    * All arithmetic is exact long floor division, so the result is
    * bit-identical under any partitioning and replayable in SQL.
    *
    * Plan shape (the 100-TB contract, ScaleOp-measured): the BIG side
    * moves ONCE — edges pre-join their static out-degree, hash-partition
    * by src, and persist as compressed COLUMNAR batches (a DataFrame
    * cache preserves outputPartitioning; a localCheckpoint caches fat
    * deserialized rows AND loses the partitioning, so every round
    * re-shuffled and re-sorted all edges — measured 87 MB map + 90 MB
    * reduce per round at 8M edges plus GC-inflated CPU). Each round is
    * then: one join of the edges against the NODE-sized rank table, one
    * groupBy(dst) sum (exchanging map-side combined partials: <= min(edges,
    * nodes x partitions) rows), one node-sized left join — the edge table
    * itself never re-shuffles. Round 1's ranks come straight from the
    * host-partitioned nodes, so that join is a shuffle-HASH join with no
    * exchange on either side. Later rounds join the previous round's
    * pinned ranks through `Plans.lookupSide` on the pin's tallies: ranks
    * that fit the driver broadcast, and the edges flow through the join in
    * place; above the caps (ranks are host-cardinality, unbounded at web
    * scale) the ranks exchange to the edge partitioning for a
    * shuffle-HASH join (hinted: no per-round sort of the edge side). */
  def pageRank(edges: DataFrame, iters: Int, dampPct: Int = 85,
               srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 0, "pageRank: iters must be >= 0")
    require(dampPct >= 0 && dampPct <= 100, "pageRank: dampPct must be in [0,100]")
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the filtered distinct edge set feeds FOUR consumers across two setup
    // actions (ew's join left + the outdeg agg; nodes' src + dst selects)
    // — persist it or the edge scan+distinct shuffle reruns per consumer
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct().persist(storage)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
    // (src, dst, od): out-degree is static — joined once, not per round
    val ew = e.join(outdeg, "src").repartition(col("src")).persist(storage)
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
      .repartition(col("host")).persist(storage)
    val n = nodes.count() // bounded driver action: one long (also pins nodes)
    require(n > 0, "pageRank: empty graph")
    ew.count() // materialize the partitioned columnar edge cache once
    e.unpersist(blocking = false) // ew + nodes are built; e is done
    val scale = 1000000000000L
    val base = (scale * (100 - dampPct)) / (100 * n) // exact long floor
    var ranks = nodes.select(col("host"), lit(scale / n).as("r"))
    var small = false // round 1: the ranks are partitioned like the edges
    var it = 0
    while (it < iters) {
      val contribs = ew.join(Plans.lookupSide(ranks, small),
          ew("src") === ranks("host"))
        .select(col("dst").as("host"), expr("r div od").as("c"))
      val sums = contribs.groupBy("host").agg(sum(col("c")).as("s"))
      it += 1
      // pin: the next round must not re-expand this one
      val pinned = Plans.pin(nodes.join(sums.hint("shuffle_hash"), Seq("host"), "left")
        .select(col("host"),
          (lit(base) +
            expr(s"($dampPct * coalesce(s, cast(0 as bigint))) div 100")).as("r")),
        s"LinkGraph.pageRank round $it")
      ranks = pinned.df
      small = Plans.fitsDriver(pinned.rows, pinned.bytes)
    }
    val out = if (iters == 0) Plans.pin(ranks, "LinkGraph.pageRank round 0").df else ranks
    ew.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out.withColumnRenamed("r", "pr_micro")
  }
}
