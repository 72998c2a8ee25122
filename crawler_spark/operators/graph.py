"""Link-graph analytics for crawl prioritization.

The reference crawls a link graph breadth-first with per-judge priorities
(`/root/reference/plugin/public/tools.go` selection order); production
crawlers weight the frontier by link importance — OPIC / PageRank is the
classic.  This module provides an INTEGER-ARITHMETIC PageRank whose every
step is exact in any engine (scaled fixed-point, truncating `div`), so the
DuckDB oracle replays the iterations bit-for-bit — the same portability
rule the k-means / minhash oracles follow.

Edges come from REAL crawl output: ``link_edges`` regexp-extracts
``/problem/<id>/view`` hrefs out of fetched page HTML (the link shape the
reference's listing parser walks, tools.go:204-283), so the graph has the
variable out-degree / dangling-node / isolated-node structure an actual
crawl produces.  ``pagerank_integer`` therefore

- seeds ranks from the NODE table (isolated nodes — pages nobody links to
  and pages with no out-links — get teleport-mass rank rows, never silently
  dropped), and
- DERIVES per-source out-degree from the edge set (one iteration-invariant
  ``groupBy(src).count`` joined to the edges once, reused by every
  iteration) instead of trusting a fixed-degree assumption.

Scale shape per iteration: one groupBy(dst) hash aggregate with map-side
partials over (dst, contrib) longs — the canonical distributed PageRank;
edges are never materialized wider than two ids and a long, and NOTHING in
this module uses a no-partition window (the scale-killer the round-4 audit
flagged: a ``row_number() OVER (ORDER BY ...)`` id-map funnels every row
through one task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12  # fixed-point: rank 1.0 == 10^12

#: href shape of a problem-page link in listing/page HTML
#: (`/root/reference/plugin/public/tools.go:204-283` walks these).
PROBLEM_HREF_RE = r'<a href="/problem/([0-9]+)/view"'


def link_edges(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "description",
) -> DataFrame:
    """(src, dst) edge list from page HTML: every ``/problem/<id>/view``
    href in ``html_col`` becomes one edge ``page-id → target-id``.

    Multi-edges are kept (a page linking twice votes twice — degree and
    contribution stay consistent because the degree is derived from this
    same edge set).  Pages with no hrefs produce no rows (dangling nodes);
    both engines replay the identical regex so the oracle sees the same
    graph.  Pure map-side: regexp_extract_all + explode, no shuffle.
    """
    hrefs = F.regexp_extract_all(F.col(html_col), F.lit(PROBLEM_HREF_RE), 1)
    # generators may not nest inside expressions: explode first, cast after
    return pages.select(
        F.col(id_col).cast("long").alias("src"),
        F.explode(hrefs).alias("__dst_s"),
    ).select("src", F.col("__dst_s").cast("long").alias("dst"))


def pagerank_integer(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-point PageRank over (node_id) nodes and (src, dst) edges:
    r₀ = SCALE div N;
    rᵢ₊₁(v) = ((100−d)·(SCALE div N)) div 100 + (d · Σ_{u→v} rᵢ(u) div deg(u)) div 100.

    ``deg(u)`` is derived from the edge set (variable-degree graphs are the
    normal case for real crawl links); the degree join happens ONCE before
    the loop and its exchange is reused by every unrolled iteration.  Ranks
    are seeded from ``nodes``, so isolated nodes keep a teleport-mass row
    and dangling nodes simply contribute nothing (their mass decays — the
    same convention the unrolled DuckDB oracle replays).

    Every operation is integer (`div` truncates identically in Spark,
    DuckDB, and Python), so ``iters`` unrolled iterations replay exactly in
    the oracle.  Each iteration is ONE hash aggregate over (dst, contrib)
    longs plus one broadcast-or-hash join back to the node table; the rank
    frame stays (node_id, long).

    Lineage grows one join+agg layer per iteration — fine for the few
    iterations frontier prioritization needs; deep runs should
    ``localCheckpoint`` the rank frame every ~10 rounds exactly as
    dedup.connected_components does.
    """
    # N as a one-row aggregate joined into the plan: no job while the plan
    # is built, and an empty node set yields no ranks, not a division by 0
    ids = nodes.select(F.col("node_id")).crossJoin(
        F.broadcast(nodes.agg(F.count(F.lit(1)).alias("__n")))
    )
    base = F.expr(f"{SCALE}L div __n")
    teleport = F.expr(f"((100 - {damping_pct}) * ({SCALE}L div __n)) div 100")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    e = edges.join(deg, "src")  # iteration-invariant; exchange reused
    ranks = ids.select("node_id", base.cast("long").alias("rank_e12"))
    for _ in range(iters):
        contrib = (
            e.join(ranks, e["src"] == ranks["node_id"], "inner")
            .select(
                F.col("dst").alias("node_id"),
                F.expr("rank_e12 div __deg").alias("__c"),
            )
            .groupBy("node_id")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = ids.join(contrib, "node_id", "left").select(
            "node_id",
            (
                teleport + F.expr(f"{damping_pct} * coalesce(__in, 0L) div 100")
            ).cast("long").alias("rank_e12"),
        )
    return ranks


#: anchor-tag shape of a problem-page link, capturing (target id, anchor
#: text) — the same href walk as PROBLEM_HREF_RE plus the link's text node.
PROBLEM_ANCHOR_RE = r'<a href="/problem/([0-9]+)/view">([^<]*)</a>'


def link_anchor_edges(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "description",
) -> DataFrame:
    """(src, dst, anchor) edges from page HTML: every problem-page anchor
    tag becomes one edge carrying its anchor TEXT — the classic web-corpus
    relevance signal (anchor text describes the TARGET page better than
    the target's own boilerplate; every large-scale web index aggregates
    it per target).

    Pure map-side: regexp_extract_all over the full tag (group 0-equivalent
    via the whole-pattern match), explode, then per-field regexp_extract —
    no shuffle, and the HTML column never survives past this projection.
    Both engines replay the identical regex, so the oracle sees the same
    edge set.
    """
    tags = F.regexp_extract_all(
        F.col(html_col), F.lit(PROBLEM_ANCHOR_RE), 0
    )
    return (
        pages.select(
            F.col(id_col).cast("long").alias("src"),
            F.explode(tags).alias("__tag"),
        )
        .select(
            "src",
            F.regexp_extract("__tag", PROBLEM_ANCHOR_RE, 1)
            .cast("long")
            .alias("dst"),
            F.regexp_extract("__tag", PROBLEM_ANCHOR_RE, 2).alias("anchor"),
        )
    )
