"""The generation loop — SURVEY §3.1 lifecycle, end to end, for every site.

One generation = the reference's single `Update()` run
(/root/reference/plugin/syzoj/main.go:73-141), for all judges at once:

  read url_seen + host_state → robots (C5) → listing expansion (S7/A4/P2)
  → parse listing → select batch (J1/A1/A3, §2.9 order) → fetch problems
  (C1-C3) → parse (T5-T8) → extract/fetch/decode image assets (T1/S14)
  → rewrite links → ONE atomic commit (W1-W5): problems + images +
  fetch_log + lineage appends, url_seen + host_state snapshots.

The loop is shared; what differs per site is the :class:`Site` contract —
the reference's per-judge ``plugin/*`` over the shared
``plugin/public/tools.go``.  A SynthWeb is crawled through
:class:`_SynthSite` below; ``sources.adapterweb.AdapterWeb`` (the five real
wire formats) implements the contract itself.

Job budget: a recrawl generation is ~21 Spark jobs (at most 25, pinned by
test_crawl_loop.py::test_recrawl_generation_job_budget). Each fetch stage is
one shuffle whose results the first job reading them stores; host clocks
(C1) ride the next stage's fetch shuffle as clock rows; robots rules are
compiled into every frontier; the C4 guards and the manifest counts are
``Observation``s on jobs that already run (the counts on the staging writes).
Generations run with whole-stage codegen off and no plan inlines the
generation number, so a recrawl after the first compiles no code.

Resume: the next run continues from max committed generation — the
`GetProblemlist` recovery analog (main.go:132-153). Kill the process at any
point and re-run: uncommitted staging is invisible, so the final state
equals the uninterrupted run (tested in tests/test_crawl_loop.py).

CLI:
  python -m crawler_spark.plans.run --warehouse /tmp/wh --generations 2 \\
      --judges 4 --pids 40 --limit 20 --cores 8
  python -m crawler_spark.plans.run --web adapter --warehouse /tmp/aw \\
      --generations 2 --pids 6 --limit 4
"""

from __future__ import annotations

import argparse
import time
from dataclasses import dataclass
from functools import reduce
from typing import Protocol

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from crawler_spark.functions.urls import canonicalize, url_hash64
from crawler_spark.operators.fetch import (
    SyntheticFetcher,
    fetch_log_from,
    fetch_stage,
    lineage_from,
)
from crawler_spark.operators.frontier import select_generation
from crawler_spark.operators.images import (
    decode_assets,
    dedupe_assets,
    extract_image_links,
    rewrite_descriptions,
)
from crawler_spark.operators.parse import extract_max_page, parse_listing, parse_problem
from crawler_spark.operators.politeness import (
    apply_robots,
    host_clocks,
    next_host_state,
    robots_host_state,
)
from crawler_spark.session import session_conf
from crawler_spark.sources.synthweb import SynthWeb
from crawler_spark.sources.warehouse import ParquetWarehouse


class ListingPhaseError(RuntimeError):
    """C4 — any listing failure aborts the generation (job retry)."""


SEEN_DDL = (
    "judge string, pid string, canonical_url string, url_hash bigint, "
    "title string, last_generation int"
)
HOST_STATE_DDL = (
    "host string, min_delay_ms int, robots_disallow array<string>, "
    "crawl_delay_ms int, next_allowed_ts double"
)


def _empty_seen(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], SEEN_DDL)


class Site(Protocol):
    """What differs per site; everything else is the one loop below."""

    def judge_rows(self) -> list[tuple[str, str, int]]:
        """(judge, host, min_delay_ms) per judge."""

    def fetcher(self):
        """The fetcher every stage of the generation uses."""

    def first_page_url(self) -> Column:
        """Listing page 1's url over the (judge, host) columns."""

    def listing_pages(self, first_res: DataFrame) -> DataFrame:
        """Fetched page 1 rows → (url, host, judge) of every listing page.
        A NULL url marks a listing the site could not expand (the P2
        maxPage guard): the generation aborts with ListingPhaseError (C4)."""

    def parse_listing(self, listing_res: DataFrame) -> DataFrame:
        """Fetched listing pages → (judge, host, pid, title, listing_pos)."""

    def problem_url(self) -> Column:
        """A problem page's url over the (judge, host, pid) columns."""

    def parse_problem(self, prob_res: DataFrame) -> DataFrame:
        """Fetched problem pages → problems rows: failed fetches keep their
        listing title and status with NULL content (C3/W3)."""

    def decode_assets(self, asset_res: DataFrame) -> DataFrame:
        """Fetched assets → images rows (image_id, bytes, w, h, fmt,
        caption, phash)."""


@dataclass
class _SynthSite:
    """SynthWeb's side of :class:`Site`.  The operators are module globals
    looked up when each method runs, so whatever patches
    ``crawler_spark.plans.run.<operator>`` (e.g. a tracer) sees the call."""

    web: SynthWeb

    def judge_rows(self) -> list[tuple[str, str, int]]:
        return [
            (j, self.web.host(j), self.web.judges[j].min_delay_ms)
            for j in sorted(self.web.judges)
        ]

    def fetcher(self):
        return SyntheticFetcher(self.web)

    def first_page_url(self) -> Column:
        return F.concat(F.lit("http://"), "host", F.lit("/problems?page=1"))

    def listing_pages(self, first_res: DataFrame) -> DataFrame:
        pages = extract_max_page(first_res).select(
            "judge",
            "host",
            # a NULL max_page (P2 guard) explodes to one NULL page → NULL url
            F.explode_outer(F.sequence(F.lit(1), F.col("max_page"))).alias("page"),
        )
        return pages.select(
            F.when(
                F.col("page").isNotNull(),
                F.format_string("http://%s/problems?page=%d", "host", "page"),
            ).alias("url"),
            "host",
            "judge",
        )

    def parse_listing(self, listing_res: DataFrame) -> DataFrame:
        return parse_listing(listing_res, page_size=10)

    def problem_url(self) -> Column:
        return F.format_string("http://%s/problem/%s", "host", "pid")

    def parse_problem(self, prob_res: DataFrame) -> DataFrame:
        return parse_problem(prob_res)

    def decode_assets(self, asset_res: DataFrame) -> DataFrame:
        return decode_assets(asset_res, self.web)


def run_generation(
    spark: SparkSession,
    wh: ParquetWarehouse,
    web: SynthWeb | Site,
    generation: int,
    limit: int = 20,
    num_buckets: int = 16,
    run_id: str = "run0",
    base_ts: float = 1_700_000_000.0,
    seen_buckets: int = 0,
) -> dict:
    site = _SynthSite(web) if isinstance(web, SynthWeb) else web
    fetcher = site.fetcher()
    t0 = time.time()
    # a local relation, so later plans are sized from it, not from 8 EiB
    judges_df = spark.createDataFrame(
        pd.DataFrame(site.judge_rows(), columns=["judge", "host", "min_delay_ms"])
        .assign(generation=generation),
        "judge string, host string, min_delay_ms int, generation int",
    )
    # not F.lit(generation): Spark writes int literals into generated code,
    # so every plan would compile anew each generation; an array literal is
    # passed by reference, and exploding it stamps the same value
    def stamped(df: DataFrame) -> DataFrame:
        return df.select("*", F.explode(F.array(F.lit(generation))).alias("generation"))

    gen_base = base_ts + generation * 10_000  # simulated clock epoch per gen

    # -- 0. host_state: prior snapshot, or robots fetch on first run (C5)
    host_state = wh.read_snapshot("host_state", schema=HOST_STATE_DDL)
    if host_state is None:
        robots_res = fetch_stage(
            judges_df.select(
                F.concat(F.lit("http://"), "host", F.lit("/robots.txt")).alias("url"),
                "host", "judge", "generation", "min_delay_ms",
            ),
            fetcher, num_buckets, gen_base,
        ).localCheckpoint(eager=False)  # read twice below, fetched once
        host_state = robots_host_state(judges_df.drop("judge"), robots_res)
    # robots rules and delays hold for the whole generation: collected once,
    # apply_robots compiles them into every stage's frontier
    rules = spark.createDataFrame(host_state.toPandas(), HOST_STATE_DDL)
    clocks = rules.select("host", "next_allowed_ts")
    fetched: list[DataFrame] = []  # every stage's results → fetch_log

    def fetch(frontier: DataFrame) -> tuple[DataFrame, Observation]:
        """One fetch stage. The clocks it leaves its hosts at (C1) ride the
        next stage's fetch shuffle — the reference's plugin interleaves all
        requests on one clock per host. The Observation counts the failed
        rows (C4) once a later stage has read the results."""
        nonlocal clocks
        res = fetch_stage(
            apply_robots(frontier, rules), fetcher, num_buckets, gen_base, clocks
        ).localCheckpoint(eager=False)
        failed = Observation()
        clocks = clocks.unionByName(
            host_clocks(res.observe(failed, _count(F.col("status") != "ok")))
        )
        fetched.append(res)
        return res, failed

    # -- 1. listing phase: page 1 → maxPage (A4/P2) → expand (S7) → parse
    first_res, first_failed = fetch(
        judges_df.select(
            site.first_page_url().alias("url"), "host", "judge", "generation"
        )
    )
    unexpanded = Observation()
    listing_res, listing_failed = fetch(stamped(
        site.listing_pages(first_res)
        .observe(unexpanded, _count(F.col("url").isNull()))
        .filter(F.col("url").isNotNull())
    ))
    if first_failed.get["n"]:
        raise ListingPhaseError("listing page 1 fetch failed (C4)")
    if unexpanded.get["n"]:
        raise ListingPhaseError("maxPage sanity bound violated (P2/C4)")
    listing = site.parse_listing(listing_res)

    # -- 2. selection (J1 + A1 + A3, §2.9 normative order)
    # seen_buckets > 0 → the co-located store: the snapshot is written
    # bucketBy(seen_buckets, judge, pid), so this read carries the hash
    # distribution into the selection join (tests/test_bucketed.py pins the
    # zero-Exchange property; at 10^10 keys that exchange IS the job)
    if seen_buckets:
        from crawler_spark.sources.warehouse import BucketSpecError

        try:
            seen = wh.read_snapshot_bucketed(
                "url_seen", SEEN_DDL, ["judge", "pid"], seen_buckets
            ) or _empty_seen(spark)
        except BucketSpecError:
            # pre---seen-buckets history (or a different layout): fall back
            # to the plain read — correct, just not co-located; this
            # generation's write below re-buckets the snapshot
            seen = wh.read_snapshot("url_seen", schema=SEEN_DDL) or _empty_seen(spark)
    else:
        seen = wh.read_snapshot("url_seen", schema=SEEN_DDL) or _empty_seen(spark)
    batch = select_generation(
        listing, seen.select("judge", "pid", "title"), limit=limit,
        seed=f"g{generation}",
    )

    # -- 3. problem fetch + parse
    prob_res, _ = fetch(stamped(batch.select(
        site.problem_url().alias("url"), "host", "judge", "pid", "title",
        "listing_pos", "crawl_seq",
    )))
    if listing_failed.get["n"]:
        raise ListingPhaseError("listing page fetch failed (C4)")
    problems = site.parse_problem(prob_res)

    # -- 4. asset round (T1/S14): extract → dedupe → fetch → decode → rewrite
    links = extract_image_links(problems)
    asset_res, _ = fetch(stamped(
        dedupe_assets(links).select(
            F.col("asset_url").alias("url"),
            "image_id",
            "ext",
            F.regexp_extract("asset_url", r"^https?://([^/]+)", 1).alias("host"),
        )
    ))
    images = site.decode_assets(asset_res.withColumnRenamed("url", "asset_url"))
    link_status = links.join(
        asset_res.select(F.col("url").alias("asset_url"), "status"),
        on="asset_url", how="left",
    )
    problems_final = rewrite_descriptions(problems, link_status).select(
        "judge", "pid", "title", "url",
        "time_ms", "memory_mb", "judge_type", "description",
        "description_type", "status",
        # crawl-order parity columns (§2.9 normative ordering)
        "crawl_seq", "generation",
    )

    # -- 5. atomic commit (W1-W5): everything staged, then one manifest whose
    # row counts are observed by the staging writes themselves
    # every fetch of the generation, as many partitions as one stage's
    all_fetches = reduce(
        DataFrame.unionByName,
        [r.select("url", "host", "attempts", "status", "wall_ms", "fetched_at",
                  "min_delay_ms", "generation") for r in fetched],
    ).coalesce(num_buckets)
    rows = {}  # images first: the asset fetch and the decode run in one job
    for table, df in (("images", images), ("problems", problems_final),
                      ("fetch_log", fetch_log_from(all_fetches))):
        rows[table] = Observation()
        wh.stage_append(table, df.observe(rows[table], _count(F.lit(True))), generation)
    wh.stage_append(
        "lineage",
        lineage_from(prob_res, run_id),
        generation,
    )
    listed = stamped(listing)
    wh.stage_append("listing", listed, generation)
    # A5 — seen-set refresh from the NEW listing regardless of fetch success
    # (syzoj/main.go:127-130), as a keyed upsert over the prior snapshot.
    new_seen = listed.select(
        "judge",
        "pid",
        canonicalize(site.problem_url()).alias("canonical_url"),
        url_hash64(site.problem_url()).alias("url_hash"),
        "title",
        F.col("generation").alias("last_generation"),
    )
    merged_seen = (
        seen.join(new_seen.select("judge", "pid"), ["judge", "pid"], "left_anti")
        .unionByName(new_seen)
    )
    if seen_buckets:
        wh.stage_snapshot_bucketed(
            "url_seen", merged_seen, generation, ["judge", "pid"],
            seen_buckets,
        )
    else:
        wh.stage_snapshot("url_seen", merged_seen, generation)
    # host clocks after every stage of the generation, assets included
    wh.stage_snapshot(
        "host_state",
        next_host_state(all_fetches, rules),
        generation,
    )

    n_fetch = rows["fetch_log"].get["n"]
    wall = time.time() - t0  # one clock read: urls_per_s = fetches / wall_s
    metrics = {
        "generation": generation,
        "problems": rows["problems"].get["n"],
        "images": rows["images"].get["n"],
        "fetches": n_fetch,
        "wall_s": round(wall, 2),
        "urls_per_s": round(n_fetch / max(wall, 1e-9), 1),
    }
    wh.commit(generation, metrics)
    return metrics


def _count(cond: Column) -> Column:
    """Observed metric ``n``: rows where ``cond`` holds."""
    return F.count(F.when(cond, 1)).alias("n")


# Clustered-compaction keys per append table — chosen for the table's hot
# read path, so the one range shuffle per rewrite buys parquet-footer file
# skipping on every later scan: problems/listing are read per (judge, pid)
# (W2 main-json reads, recrawl diffs), fetch_log per host + time range
# (politeness audits).  images/lineage have no selective read path → binpack.
COMPACT_SORT_KEYS: dict[str, list[str] | None] = {
    "problems": ["judge", "pid"],
    "listing": ["judge", "pid"],
    "fetch_log": ["host", "fetched_at"],
    "images": None,
    "lineage": None,
}


def maintain_warehouse(wh: ParquetWarehouse, expire: bool = False) -> dict:
    """Periodic storage maintenance (the Iceberg rewrite_data_files +
    expire_snapshots pass a long-lived crawl store needs): compact every
    committed append table's history into target-size files, clustered per
    COMPACT_SORT_KEYS.  ``expire`` additionally reclaims the superseded
    per-generation dirs — trading time travel before the compaction bound
    for storage, exactly like snapshot expiry."""
    stats = {}
    for table, keys in COMPACT_SORT_KEYS.items():
        if not (wh.root / table).exists():
            continue
        # a crashed run can leave the table dir with only staged
        # (uncommitted) data — maintenance must skip it, not abort the
        # crawl loop; compact_appends signals that with ValueError
        try:
            m = wh.compact_appends(table, sort_by=keys)
        except ValueError as exc:
            stats[table] = {"skipped": str(exc)}
            continue
        if expire:
            m["expired_dirs"] = wh.expire_compacted(table)
        stats[table] = {
            "files": f"{m['files_before']}->{m['files_after']}",
            "through": m["through"],
        }
    return stats


def run_crawl(
    spark: SparkSession,
    warehouse_dir: str,
    web: SynthWeb | Site,
    generations: int = 1,
    limit: int = 20,
    num_buckets: int = 16,
    run_id: str = "run0",
    seen_buckets: int = 0,
    compact_every: int = 0,
    expire: bool = False,
    seen_churn: bool = False,
) -> list[dict]:
    """Driver loop with resume: continues after the last committed
    generation (idempotent under kill/restart).  ``compact_every`` > 0 runs
    :func:`maintain_warehouse` after every Nth committed generation — the
    small-file problem is per-generation directories × 10^4 generations, so
    a real deployment compacts as it crawls, not as an afterthought.
    ``seen_churn`` adds a per-generation CDC report over the url_seen
    snapshot (warehouse.snapshot_diff) to the returned metrics — the
    added/removed/changed key counts an operator watches to spot listing
    regressions (a sudden mass-removal means an adapter broke, not that
    the judge deleted its archive)."""
    wh = ParquetWarehouse(warehouse_dir, spark)
    start = (wh.last_generation() + 1) if wh.last_generation() is not None else 0
    out = []
    for g in range(start, generations):
        # a stage sees at most thousands of rows: compiling a class per stage
        # costs more than the fused loop saves (expressions still compile)
        with session_conf(spark, "spark.sql.codegen.wholeStage", "false"):
            out.append(run_generation(
                spark, wh, web, g, limit, num_buckets, run_id, seen_buckets=seen_buckets,
            ))
        if seen_churn and g > 0:
            churn = (
                wh.snapshot_diff(
                    "url_seen", ["judge", "pid"], g - 1, g,
                    ignore_cols=("last_generation",),
                )
                .groupBy("change")
                .count()
                .collect()
            )
            out[-1]["seen_churn"] = {r["change"]: r["count"] for r in churn}
        print(f"[crawler_spark] committed generation {g}: {out[-1]}")
        if compact_every and (g + 1) % compact_every == 0:
            stats = maintain_warehouse(wh, expire=expire)
            print(f"[crawler_spark] compacted after generation {g}: {stats}")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description="crawler_spark generation loop")
    ap.add_argument(
        "--web", choices=("synth", "adapter"), default="synth",
        help="site to crawl: the seeded SynthWeb, or the five real judge "
             "wire formats (AdapterWeb; --judges and --seed do not apply)",
    )
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--generations", type=int, default=1)
    ap.add_argument("--judges", type=int, default=4)
    ap.add_argument("--pids", type=int, default=40)
    ap.add_argument("--limit", type=int, default=20)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--seed", default="synthweb-42")
    ap.add_argument(
        "--seen-buckets", type=int, default=0,
        help="bucketBy(N, judge, pid) the url_seen snapshots (co-located "
             "selection join; 0 = plain parquet)",
    )
    ap.add_argument(
        "--compact-every", type=int, default=0,
        help="compact append tables (sort-clustered per hot read path) "
             "after every N committed generations (0 = never)",
    )
    ap.add_argument(
        "--seen-churn", action="store_true",
        help="report per-generation added/removed/changed url_seen keys "
             "(CDC diff of consecutive snapshots) in the metrics",
    )
    ap.add_argument(
        "--expire-compacted", action="store_true",
        help="after each compaction, reclaim the superseded per-generation "
             "dirs (trades pre-bound time travel for storage)",
    )
    args = ap.parse_args()

    from crawler_spark.session import get_spark

    spark = get_spark("crawler_spark.run", cores=args.cores,
                      shuffle_partitions=args.cores)
    if args.web == "adapter":
        from crawler_spark.sources.adapterweb import AdapterWeb

        web = AdapterWeb(n_pids=args.pids)
    else:
        web = SynthWeb.default(n_judges=args.judges, n_pids=args.pids)
        web.seed = args.seed
    metrics = run_crawl(
        spark, args.warehouse, web, args.generations, args.limit, args.buckets,
        seen_buckets=args.seen_buckets,
        compact_every=args.compact_every,
        expire=args.expire_compacted,
        seen_churn=args.seen_churn,
    )
    print(f"[crawler_spark] done: {metrics}")


if __name__ == "__main__":
    main()
