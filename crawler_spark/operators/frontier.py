"""Frontier scheduling — SURVEY §2.4 A1-A3, §2.9 normative crawl order.

Reproduces ``ChooseUpdateProblem`` / ``DownloadProblems`` selection
(/root/reference/plugin/public/tools.go:327-403):

1. every new-or-changed pid is due (delta pass, tools.go:337-343) — due rows
   keep **listing order**;
2. the remaining budget is filled from unchanged pids in random order
   (tools.go:344-352);
3. the per-judge batch is capped at ``limit`` (clamped to list size,
   tools.go:329-331).

One deliberate deviation, documented in SURVEY §2.9: the reference seeds its
random fill from the wall clock (tools.go:328,356), which is irreproducible.
We replace it with a **seeded hash order** — md5(seed‖judge‖pid) — which is
deterministic, identical across engines (so the DuckDB oracle can mirror it),
and uniform like the reference's shuffle.

Everything is window + column expressions: per-judge top-k is one shuffle on
``judge`` (the reference's per-plugin loop). At 10^10 scale the window
partitions by (judge, host_bucket) instead so no single judge serializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.operators.membership import due_or_changed


def crawl_order_key(seed: str):
    """The seeded random-fill order: md5(seed‖judge‖pid)."""
    return F.md5(F.concat(F.lit(seed), F.col("judge"), F.lit("|"), F.col("pid")))


def select_generation(
    listing: DataFrame,
    seen: DataFrame,
    limit: int,
    seed: str = "gen0",
    per: str = "judge",
    subpartitions: int | None = None,
) -> DataFrame:
    """A1/A2/A3 + §2.9 ordering: emit this generation's fetch batch.

    Input ``listing`` needs columns (judge, pid, title, listing_pos); ``seen``
    is the url_seen-style table with (judge, pid, title). Output adds
    ``is_due`` and ``crawl_seq`` (1-based position in crawl order).

    Exact reference semantics (tools.go:336-352): the delta pass is
    **unbounded** — every new-or-changed pid is chosen regardless of
    ``limit``; the random fill only tops the batch up *to* ``limit`` when the
    due count falls short. So a row survives iff ``is_due OR crawl_seq <=
    limit`` (limit is pre-clamped to the list size, tools.go:329-331, which
    the window bound subsumes).

    ``subpartitions`` is the at-scale path: a per-judge window serializes
    each judge onto one task, so with B = subpartitions a first window over
    (judge, pid-hash-bucket) pre-prunes each bucket to its due rows + top
    ``limit`` fill candidates in parallel; the final per-judge window then
    ranks at most due + B·limit rows per judge instead of the whole listing.
    Provably identical output: a fill row survives iff < limit rows precede
    it judge-wide, and every preceding row is due or inside its own bucket's
    top ``limit`` — so pruning drops neither survivors nor any row ranked
    before one, leaving every surviving ``crawl_seq`` unchanged
    (equivalence pinned by tests/test_frontier.py).
    """
    flagged = due_or_changed(listing, seen)
    order = [
        F.col("is_due").desc(),
        # due prefix: listing order (tools.go:337); fill tail: seeded hash
        F.when(F.col("is_due"), F.col("listing_pos")).asc(),
        crawl_order_key(seed).asc(),
    ]
    if subpartitions is not None and subpartitions > 1:
        bucket = F.pmod(F.xxhash64(F.col("pid")), F.lit(subpartitions))
        wb = Window.partitionBy(F.col(per), bucket).orderBy(*order)
        flagged = (
            flagged.withColumn("__bseq", F.row_number().over(wb))
            .filter(F.col("is_due") | (F.col("__bseq") <= limit))
            .drop("__bseq")
        )
    w = Window.partitionBy(per).orderBy(*order)
    return (
        flagged.withColumn("crawl_seq", F.row_number().over(w))
        .filter(F.col("is_due") | (F.col("crawl_seq") <= limit))
    )


def host_bucket(df: DataFrame, num_buckets: int, host_col: str = "host") -> DataFrame:
    """Host-bucket partitioning key (SURVEY §4): pmod(xxhash64(host), B).

    Per-host politeness needs all of a host's URLs in one task; bucketing by
    host hash gives that while spreading hosts across ``num_buckets`` tasks.
    """
    return df.withColumn(
        "host_bucket", F.pmod(F.xxhash64(F.col(host_col)), F.lit(num_buckets)).cast("int")
    )


def admission_budget(
    df: DataFrame, budgets: DataFrame, per: str = "judge", default_limit: int = 50
) -> DataFrame:
    """A3 — per-judge per-run caps (loj 200, uoj 50, … — BASELINE.md table).

    ``budgets`` is a small (judge, limit) DataFrame (broadcast); rows beyond
    the group's limit are cut by the same crawl-order window.
    """
    w = Window.partitionBy(per).orderBy(F.col("crawl_seq").asc())
    joined = df.join(F.broadcast(budgets), on=per, how="left").withColumn(
        "__limit", F.coalesce(F.col("limit"), F.lit(default_limit))
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("__limit"))
        .drop("__rn", "__limit", "limit")
    )


def host_concentration(df: DataFrame, host_col: str = "host") -> DataFrame:
    """Frontier skew audit — the one-row concentration summary of how the
    frontier spreads over hosts (and so over host buckets): host count, URL
    count, the hottest host's share in ppm, the Herfindahl–Hirschman
    concentration index over integer ppm shares (hhi_e6: 10^6 = monopoly,
    ~10^6/n_hosts = uniform), and the hottest host itself (min host name on
    ties — a total order).  All integer arithmetic (truncating ``div``), so
    any engine replays it bit-for-bit.  That truncation biases ``hhi_e6``
    LOW: each host's ppm share loses up to 1 ppm before squaring, so a long
    tail of tiny hosts under-reports (10^6 hosts of one URL each give
    hhi_e6 = 0, not ~1) — read it as a lower bound on concentration.

    Scale shape: one groupBy(host) hash aggregate with map-side combine —
    the frontier's URL rows cross exactly one exchange, as (host, count)
    partials, never as URL strings — then the ONE total row is broadcast
    back onto the (tiny) host table for the final single-row rollup.
    """
    hosts = df.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = hosts.agg(
        F.sum("n").cast("long").alias("__total"),
        F.max("n").cast("long").alias("__max_n"),
    )
    per = hosts.crossJoin(F.broadcast(tot)).withColumn(
        "share_ppm", F.expr("(1000000 * n) div __total")
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.max("__total").cast("long").alias("n_urls"),
        F.max("share_ppm").cast("long").alias("max_share_ppm"),
        F.expr("CAST(sum(share_ppm * share_ppm) div 1000000 AS BIGINT)").alias(
            "hhi_e6"
        ),
        F.min(F.when(F.col("n") == F.col("__max_n"), F.col("host"))).alias(
            "hot_host"
        ),
    )
