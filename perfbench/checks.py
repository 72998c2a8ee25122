"""Output checks, run outside the timed region.

Each check returns a list of readable errors; an empty list is a pass.  They
take plain Python/pandas values, so the tests can feed them corrupted
outputs without starting Spark.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pandas as pd

# politeness gaps are stored as float seconds; allow float rounding only
_GAP_SLACK_MS = 0.01


@dataclass
class CrawlUnit:
    """What one committed generation left in the warehouse."""

    generation: int
    seen: dict[tuple[str, str], str]  # url_seen snapshot: (judge, pid) -> title
    problems: list[dict]  # judge, pid, crawl_seq, status, title, description
    images: dict[str, str]  # image_id -> caption
    fetches: list[tuple[str, float, int]]  # (host, fetched_at, generation), all gens <= g
    min_delay_ms: dict[str, int]  # host -> min_delay_ms from host_state


def crawl_unit_errors(got: CrawlUnit, ref: dict) -> list[str]:
    """Compare one generation with ``tests.reference_impl.reference_crawl``
    run through that generation, and check the C1 per-host minimum gap."""
    g = got.generation
    errors: list[str] = []
    if got.seen != ref["seen"]:
        diff = set(got.seen.items()) ^ set(ref["seen"].items())
        errors.append(f"url_seen differs from the reference in {len(diff)} entries")

    want_order = {(j, p, s) for (gg, j, p, s) in ref["crawl_order"] if gg == g}
    got_order = {(r["judge"], r["pid"], r["crawl_seq"]) for r in got.problems}
    if got_order != want_order or len(got.problems) != len(want_order):
        errors.append(
            f"crawl order differs: {len(got_order ^ want_order)} mismatched "
            f"(judge, pid, seq), {len(got.problems)} rows for {len(want_order)}"
        )

    want = {(j, p): v for (gg, j, p), v in ref["problems"].items() if gg == g}
    rows = {(r["judge"], r["pid"]): r for r in got.problems}
    bad = 0
    for key, w in want.items():
        r = rows.get(key)
        if r is None or r["status"] != w["status"]:
            bad += 1
        elif w["status"] == "ok":
            bad += r["title"] != w["title"] or r["description"] != w["description"]
        else:
            bad += r["description"] is not None
    if bad or set(rows) != set(want):
        errors.append(f"problems differ from the reference in {bad} rows")

    want_img = {k: v["caption"] for (gg, k), v in ref["images"].items() if gg == g}
    if got.images != want_img:
        diff = set(got.images.items()) ^ set(want_img.items())
        errors.append(f"images (id, caption) differ in {len(diff)} entries")

    by_host: dict[str, list[tuple[float, int]]] = defaultdict(list)
    for host, ts, gen in got.fetches:
        by_host[host].append((ts, gen))
    for host, rows_h in by_host.items():
        rows_h.sort()
        ts = np.array([t for t, _ in rows_h])
        gens = np.array([gen for _, gen in rows_h])
        gaps_ms = np.diff(ts) * 1000
        touches = (gens[1:] == g) | (gens[:-1] == g)
        need = got.min_delay_ms.get(host)
        if need is None:
            errors.append(f"host {host} has fetches but no host_state row")
        elif (gaps_ms[touches] < need - _GAP_SLACK_MS).any():
            errors.append(
                f"host {host}: gap {gaps_ms[touches].min():.3f} ms < {need} ms (C1)"
            )
    return errors


def expected_dequeue(
    frontier: pd.DataFrame, seen_keys: np.ndarray, budget: int
) -> pd.DataFrame:
    """Restatement of the dequeue semantics in pandas: first occurrence of
    each url_hash, minus the seen keys, ranked by url_hash within host,
    cut at the per-host budget."""
    novel = frontier.drop_duplicates("url_hash")
    novel = novel[~novel["url_hash"].isin(seen_keys)]
    novel = novel.sort_values(["host_hash", "url_hash"], kind="mergesort")
    rank = novel.groupby("host_hash", sort=False).cumcount() + 1
    out = novel.assign(rank=rank.astype(np.int64))
    return out[out["rank"] <= budget].reset_index(drop=True)


def dequeue_errors(
    out: pd.DataFrame, frontier: pd.DataFrame, seen_keys: np.ndarray, budget: int
) -> list[str]:
    """Check a dequeue output (host_hash, url_hash, rank) against the input
    keys (host_hash, url_hash) and the seen keys."""
    errors: list[str] = []
    got = out[["host_hash", "url_hash", "rank"]].astype(np.int64)
    got = got.sort_values(["host_hash", "rank"], kind="mergesort").reset_index(drop=True)

    if got["url_hash"].isin(seen_keys).any():
        errors.append(
            f"{int(got['url_hash'].isin(seen_keys).sum())} output keys are in the seen table"
        )

    pos = got.groupby("host_hash", sort=False).cumcount() + 1
    if not (got["rank"].to_numpy() == pos.to_numpy()).all():
        errors.append("per-host ranks do not run 1..m")
    same_host = got["host_hash"].to_numpy()[1:] == got["host_hash"].to_numpy()[:-1]
    rising = np.diff(got["url_hash"].to_numpy()) > 0
    if not rising[same_host].all():
        errors.append("per-host ranks are not in url_hash order")

    novel = frontier.drop_duplicates("url_hash")
    novel = novel[~novel["url_hash"].isin(seen_keys)]
    want_n = novel.groupby("host_hash").size().clip(upper=budget)
    got_n = got.groupby("host_hash").size()
    if not want_n.sort_index().equals(got_n.sort_index()):
        errors.append("per-host counts differ from min(novel, budget)")

    want = expected_dequeue(frontier, seen_keys, budget)
    want = want.sort_values(["host_hash", "rank"], kind="mergesort").reset_index(drop=True)
    if len(want) != len(got) or not (
        want[["host_hash", "url_hash", "rank"]].to_numpy() == got.to_numpy()
    ).all():
        errors.append(
            f"output differs from the restatement ({len(got)} rows, want {len(want)})"
        )
    return errors
