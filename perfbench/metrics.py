"""Metric names, units and directions, and the result line.

Names, units and directions are read from ``BENCHMARK.json``.  Its
per-layer entries may carry only ``name``, ``unit`` and ``better``, so the
layer map -- which end-to-end metric each per-layer metric should move, and
on which workload -- is kept here in ``MOVES`` and written to each traced
run's record, so a later change to one layer can be read against it.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())

WORKLOADS = tuple(w["name"] for w in SPEC["workloads"])
# name -> (unit, better)
E2E = {m["name"]: (m["unit"], m["better"]) for m in SPEC["end_to_end"]}
LAYER = {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]}

_CRAWL = "crawl-recrawl"
_DEQ = "frontier-dequeue"

# (end-to-end metrics it should move, workload) -> per-layer metrics
MOVES: dict[tuple[tuple[str, ...], str], tuple[str, ...]] = {
    (("generation_s",), _CRAWL): (
        "run.jobs_per_generation", "run.self_s",  # plans.run
        "politeness.s", "politeness.rows_dropped",  # operators.politeness
        # operators.frontier + membership.due_or_changed
        "frontier.select_s", "frontier.rows_in", "frontier.rows_out", "frontier.due_share",
        # sources.warehouse
        "warehouse.read_s", "warehouse.commit_s",
        "warehouse.write_s", "warehouse.bytes_written", "warehouse.files_written",
    ),
    (("urls_per_s",), _CRAWL): (
        # operators.fetch
        "fetch.s", "fetch.rows", "fetch.ok_share", "fetch.attempts_per_row",
        "fetch.max_task_share",
        "parse.s", "parse.rows_out",  # operators.parse
        # operators.images + sources.codecs
        "images.extract_s", "images.unique_share", "images.decode_s", "images.decoded",
        "images.rewrite_s",
    ),
    (("urls_per_s",), _DEQ): (
        # operators.arrow_frontier
        "arrow_frontier.canonicalize_s", "arrow_frontier.dequeue_s",
        "arrow_frontier.shuffle_bytes", "arrow_frontier.max_task_share",
        "arrow_frontier.out_share",
    ),
    # Spark engine, from the status store of the traced run's session
    (("peak_rss_mb", "urls_per_s"), "all"): (
        "spark.task_s", "spark.core_busy_share", "spark.shuffle_bytes",
        "spark.spill_bytes", "spark.gc_s",
    ),
    # sources.synthweb: the simulated web, timed alone (not an engine cost)
    ((), _CRAWL): ("synthweb.s",),
    # the tracing itself: traced minus untraced generation_s
    ((), "all"): ("trace.overhead_s",),
}


def layer_map() -> dict[str, dict]:
    """Per-layer metric -> {"moves": [end-to-end metrics], "workload": w}."""
    return {
        name: {"moves": list(moves), "workload": workload}
        for (moves, workload), names in MOVES.items()
        for name in names
    }


def result_line(
    metrics: dict[str, float], trace: bool, attempted: int, failed: int, correct: bool
) -> str:
    """The last stdout line: every declared metric of the mode, with its unit."""
    declared = {k: v[0] for k, v in (LAYER if trace else E2E).items()}
    if set(metrics) != set(declared):
        missing = sorted(set(declared) - set(metrics))
        extra = sorted(set(metrics) - set(declared))
        raise ValueError(f"metric names differ: missing {missing}, extra {extra}")
    for name, value in metrics.items():
        if not math.isfinite(value):
            raise ValueError(f"{name} is not a finite number: {value}")
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad unit counts: attempted {attempted}, failed {failed}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": float(metrics[name]), "unit": declared[name]}
                for name in declared
            },
        },
        separators=(",", ":"),
        ensure_ascii=True,
    )
