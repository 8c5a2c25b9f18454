"""Web-link-graph analytics: href extraction, host-graph construction,
and PageRank over the host graph.

Crawl-scale corpus curation weights documents by the standing of their
host: Common Crawl publishes harmonic-centrality/PageRank host rankings,
and quality pipelines (CCNet descendants, RefinedWeb) use link-graph
signals as a prior alongside content classifiers. The chain here is the
Spark-native version: crawl HTML (``sources/warc.py``) -> outgoing link
hosts (pure Catalyst regex, zero shuffle) -> weighted host->host edge
table (one aggregation) -> PageRank by power iteration (one bounded
DataFrame job pair per iteration, the ``operators/graph.py`` fixpoint
discipline) -> broadcast the ~#hosts-sized rank table back onto documents
as a quality prior.

Reference scope: the reference engine (chaneyn/geospatialtools) has no web
surface; this module is part of the mandated training-data pipeline layer.
Its iterative shape, though, is the same one the reference's flow
accumulation uses (terrain_tools.f90 recursion -> wavefront rounds):
iterate a sparse linear operator to a fixpoint with bounded per-round work.

Execution shape of ``pagerank`` (the 100 TB design):

- The edge table is normalized ONCE: weights aggregated per (src, dst)
  (algebraic count/sum — map-side combined, hot link targets never skew
  the shuffle), out-weight fractions joined in, and the result
  repartitioned on ``src`` and checkpointed, so every iteration's
  rank-by-src join reuses the same partitioning and only the (node, rank)
  table — O(#hosts), tiny next to the edges — moves per round.
- Each iteration is TWO bounded jobs: a scalar aggregate for the
  dangling mass, and the contribution join + groupBy(dst) sum
  materialized by an eager localCheckpoint (lineage stays bounded; at
  cluster scale this maps to a snapshot per round, the
  plans/checkpointing.py story).
- Rounds are FIXED (``n_iter``), the classic formulation; rank mass is
  conserved to float precision every round (asserted in tests), so
  convergence needs no extra corpus pass.

Float determinism: per-node contribution sums are double reductions over
shuffled rows, so results carry last-ulp noise across engines/runs — the
gate entry rounds to 6 decimals in BOTH engines (the established
cross-engine reduction discipline, see PLANS.md golden-twin notes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# href attribute values in single or double quotes; group 1 is the URL.
# RE2-compatible (no lookaround), ASCII classes only — the urls.py
# discipline, so a DuckDB twin can evaluate the identical extraction.
# The leading boundary class keeps attribute names that merely END in
# href (data-href, ng-href, xlink:href) from matching as links.
HREF_RE = ("(?i)(?:^|[^a-zA-Z0-9_:-])"
           "href[ \\t]*=[ \\t]*[\"']([^\"'<>]+)[\"']")

# scheme://[userinfo@]HOST[:port]... -> group 1 = host
_ABS_HOST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+).*$"


def extract_links(html: Column) -> Column:
    """All ``href="..."`` / ``href='...'`` attribute values of an HTML
    column, in document order, as ``array<string>``. Pure Catalyst
    (one regexp_extract_all pass); NULL html -> NULL."""
    return F.regexp_extract_all(html, F.lit(HREF_RE), F.lit(1))


def link_host(link: Column, base_host: Column) -> Column:
    """Resolve one link to the HOST it points at: absolute links
    (``scheme://...``) to their own authority host (lowercased, userinfo
    stripped, leading ``www.`` dropped), protocol-relative ``//host/...``
    links likewise, anything else (relative paths, fragments) to
    ``base_host`` (the linking page's own host). Links whose authority
    parse comes up empty — or is a bracketed IPv6 literal, which the
    host-name grammar here does not model — yield NULL.

    NOTE: graph nodes aggregate over PORTS (``example.com:8443`` and
    ``example.com`` are one node), deliberately coarser than
    ``urls.canonicalize_url``'s dedup key, which keeps non-default ports:
    the dedup layer answers "same fetched resource?", the graph layer
    "same site?"."""
    absolute = F.regexp_extract(link, _ABS_HOST_RE, 1)
    protorel = F.regexp_extract(link, "^//(?:[^/?#@]*@)?([^/?#:]+).*$", 1)
    raw = F.when(link.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"), absolute) \
           .when(link.startswith("//"), protorel) \
           .otherwise(F.coalesce(base_host, F.lit("")))
    host = F.regexp_replace(F.lower(raw), "^www\\.", "")
    return F.when((F.length(host) > 0) & ~host.startswith("["), host)


def host_edges(pages: DataFrame, host_col: str = "source",
               html_col: str = "text",
               drop_self_edges: bool = True) -> DataFrame:
    """Weighted host->host edge table from crawled pages: explode each
    page's link hosts, resolve relative links to the page's own host,
    and aggregate ``(src, dst, weight)`` where weight = total link count
    (algebraic count — map-side combined, so a host linked from 10^9
    pages arrives at the shuffle as one row per map task). Pages or links
    without a resolvable host drop out; ``drop_self_edges`` removes
    intra-host navigation (the usual PageRank convention)."""
    # lowercase BEFORE the www. strip, same order as link_host — the
    # reversed order left 'WWW.Example.com' as 'www.example.com' and
    # split one host into two graph nodes
    src = F.regexp_replace(F.lower(F.col(host_col)), "^www\\.", "")
    ex = (pages.select(src.alias("src"),
                       F.explode(extract_links(F.col(html_col)))
                        .alias("_link"))
          .select("src", link_host(F.col("_link"), F.col("src"))
                  .alias("dst"))
          .filter(F.col("src").isNotNull() & F.col("dst").isNotNull()))
    if drop_self_edges:
        ex = ex.filter(F.col("src") != F.col("dst"))
    return ex.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("weight"))


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             weight_col: str | None = None, damping: float = 0.85,
             n_iter: int = 20, rank_col: str = "rank") -> DataFrame:
    """PageRank by power iteration over a (possibly weighted) edge table;
    returns ``(node, rank_col)`` for every node appearing as source or
    target, with sum(rank) == 1 to float precision.

    Per-iteration update (the classic damped formulation with dangling
    mass redistributed uniformly):

        rank'(v) = (1-d)/N + d * (sum over in-edges u->v of
                   rank(u) * w(u,v)/out_w(u)  +  dangling_mass/N)

    Duplicate (src, dst) rows are aggregated up front; NULL endpoints are
    dropped. See the module docstring for the execution shape — the edge
    table is normalized and checkpointed once, each round moves only the
    O(#nodes) rank table and runs two bounded jobs.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if n_iter < 1:
        raise ValueError("n_iter >= 1")
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    e0 = (edges
          .filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
          .select(F.col(src).alias("_src"), F.col(dst).alias("_dst"),
                  w.alias("_w"))
          .groupBy("_src", "_dst").agg(F.sum("_w").alias("_w")))
    outw = e0.groupBy("_src").agg(F.sum("_w").alias("_ow"))
    ew = (e0.join(outw, "_src")
          .select("_src", "_dst", (F.col("_w") / F.col("_ow"))
                  .alias("_frac"))
          .repartition("_src")
          .localCheckpoint(eager=True))

    nodes = (e0.select(F.col("_src").alias("node"))
             .union(e0.select(F.col("_dst").alias("node")))
             .distinct().localCheckpoint(eager=True))
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias(rank_col))
    # nodes with no outgoing edges: their rank leaks and is redistributed
    dangling = (nodes.join(outw, nodes["node"] == outw["_src"],
                           "left_anti").localCheckpoint(eager=True))

    # one-time probe over the checkpointed dangling table: graphs where
    # every node has out-links (common after host_edges aggregation) skip
    # the per-round dangling-mass job entirely
    has_dangling = dangling.count() > 0

    base = (1.0 - damping) / n_nodes
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("_r")) \
                 .localCheckpoint(eager=True)
    for _ in range(n_iter):
        dm = ((ranks.join(dangling, "node")
               .agg(F.sum("_r")).head()[0]) or 0.0) if has_dangling else 0.0
        contrib = (ranks.join(ew, ranks["node"] == ew["_src"])
                   .groupBy("_dst")
                   .agg(F.sum(F.col("_r") * F.col("_frac")).alias("_s")))
        ranks = (nodes.join(contrib, nodes["node"] == contrib["_dst"],
                            "left")
                 .select("node",
                         (F.lit(damping)
                          * (F.coalesce(F.col("_s"), F.lit(0.0))
                             + F.lit(dm) / F.lit(float(n_nodes)))
                          + F.lit(base)).alias("_r"))
                 .localCheckpoint(eager=True))
    return ranks.select("node", F.col("_r").alias(rank_col))
