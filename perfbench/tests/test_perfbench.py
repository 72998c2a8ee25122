"""The benchmark's own tests: result line, output checks, self time, names.

Pure Python, except the fingerprint test, which starts a one-core
SparkSession.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

from crawler_spark.sources.synthweb import SynthWeb
from perfbench import metrics
from perfbench.checks import CrawlUnit, crawl_unit_errors, dequeue_errors, expected_dequeue
from perfbench.tracing import max_task_share, self_times, spark_metrics
from tests.reference_impl import reference_crawl


def _e2e_values() -> dict[str, float]:
    # full-precision values, as the benchmark prints them
    return {name: 123456.78901234567 for name in metrics.E2E}


def test_result_line_parses_under_1kb_with_named_keys():
    line = metrics.result_line(_e2e_values(), trace=False, attempted=3, failed=0, correct=True)
    assert len(line.encode()) < 1024
    got = json.loads(line)
    assert set(got) == {"correct", "attempted", "failed", "metrics"}
    assert got["correct"] is True and got["attempted"] == 3 and got["failed"] == 0
    assert set(got["metrics"]) == set(metrics.E2E)
    for name, m in got["metrics"].items():
        assert set(m) == {"value", "unit"}
        assert m["unit"] == metrics.E2E[name][0]
        assert m["value"] == 123456.78901234567


def test_result_line_refuses_missing_or_extra_metrics():
    values = _e2e_values()
    del values["setup_s"]
    with pytest.raises(ValueError, match="setup_s"):
        metrics.result_line(values, trace=False, attempted=1, failed=0, correct=True)
    values = {**_e2e_values(), "extra": 1.0}
    with pytest.raises(ValueError, match="extra"):
        metrics.result_line(values, trace=False, attempted=1, failed=0, correct=True)
    layers = dict.fromkeys(metrics.LAYER, 0.5)
    json.loads(metrics.result_line(layers, trace=True, attempted=2, failed=1, correct=False))


def test_benchmark_json_workloads_and_layer_map():
    from perfbench.workloads import WORKLOADS

    assert metrics.SPEC["command"] == ["python3", "perfbench/run.py"]
    assert set(WORKLOADS) == set(metrics.WORKLOADS)
    mapped = [name for names in metrics.MOVES.values() for name in names]
    assert sorted(mapped) == sorted(metrics.LAYER)  # each per-layer metric once
    for moves, workload in metrics.MOVES:
        assert set(moves) <= set(metrics.E2E)
        assert workload in WORKLOADS or workload == "all"


def test_command_computes_every_end_to_end_metric_of_benchmark_json():
    from perfbench.run import e2e_metrics

    res = {"setup_s": 30.5, "units": [{"wall_s": 2.0, "urls": 10}, {"wall_s": 3.0, "urls": 20}]}
    got = e2e_metrics(res, peak_rss_mb=3000.0)
    assert got == {"setup_s": 30.5, "generation_s": 2.5, "urls_per_s": 6.0, "peak_rss_mb": 3000.0}
    json.loads(metrics.result_line(got, trace=False, attempted=2, failed=0, correct=True))


# -- crawl check -----------------------------------------------------------

LIMIT = 4


@pytest.fixture(scope="module")
def web():
    return SynthWeb.default(n_judges=2, n_pids=12)


def _unit_from_reference(web, g: int) -> CrawlUnit:
    """What a correct generation g would have committed."""
    ref = reference_crawl(web, g + 1, LIMIT)
    problems = []
    for (gg, judge, pid, seq) in ref["crawl_order"]:
        if gg == g:
            p = ref["problems"][(g, judge, pid)]
            problems.append({
                "judge": judge, "pid": pid, "crawl_seq": seq, "status": p["status"],
                "title": p.get("title"), "description": p.get("description"),
            })
    delays = {web.host(j): web.judges[j].min_delay_ms for j in web.judges}
    fetches = [
        (host, 1_700_000_000.0 + i * delay / 1000.0, gg)
        for host, delay in delays.items()
        for i, gg in enumerate([0] * 3 + [g] * 3)
    ]
    return CrawlUnit(
        generation=g,
        seen=dict(ref["seen"]),
        problems=problems,
        images={k: v["caption"] for (gg, k), v in ref["images"].items() if gg == g},
        fetches=fetches,
        min_delay_ms=delays,
    )


def test_crawl_check_accepts_reference_output(web):
    got = _unit_from_reference(web, 1)
    assert crawl_unit_errors(got, reference_crawl(web, 2, LIMIT)) == []


def test_crawl_check_rejects_dropped_url_seen_row(web):
    got = _unit_from_reference(web, 1)
    got.seen.pop(next(iter(got.seen)))
    errors = crawl_unit_errors(got, reference_crawl(web, 2, LIMIT))
    assert len(errors) == 1 and "url_seen" in errors[0]


def test_crawl_check_rejects_short_politeness_gap(web):
    got = _unit_from_reference(web, 1)
    host, ts, _ = got.fetches[-1]
    got.fetches.append((host, ts + 0.001, 1))
    errors = crawl_unit_errors(got, reference_crawl(web, 2, LIMIT))
    assert len(errors) == 1 and "C1" in errors[0]


def test_crawl_check_rejects_changed_caption(web):
    got = _unit_from_reference(web, 1)
    key = next(iter(got.images))
    got.images[key] += " (changed)"
    errors = crawl_unit_errors(got, reference_crawl(web, 2, LIMIT))
    assert len(errors) == 1 and "images" in errors[0]


# -- dequeue check -----------------------------------------------------------


def _dequeue_inputs(budget: int):
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**62), 2**62, size=3000)
    hosts = rng.integers(-(2**62), 2**62, size=20)
    host_of = np.where(rng.random(3000) < 0.5, hosts[0], rng.choice(hosts[1:], 3000))
    frontier = pd.DataFrame({"host_hash": host_of, "url_hash": keys})
    frontier = pd.concat([frontier, frontier.iloc[:300]], ignore_index=True)  # dups
    seen = keys[::2]
    out = expected_dequeue(frontier, seen, budget)
    return frontier, seen, out


def test_dequeue_check_accepts_restated_output():
    frontier, seen, out = _dequeue_inputs(budget=200)
    assert (out.groupby("host_hash").size() == 200).any()  # the budget binds
    assert dequeue_errors(out.sample(frac=1, random_state=1), frontier, seen, 200) == []


def test_dequeue_check_rejects_injected_seen_key():
    frontier, seen, out = _dequeue_inputs(budget=200)
    host = out["host_hash"].iloc[0]
    bad = pd.concat(
        [out, pd.DataFrame({"host_hash": [host], "url_hash": [seen[0]],
                            "rank": [int((out["host_hash"] == host).sum()) + 1]})],
        ignore_index=True,
    )
    errors = dequeue_errors(bad, frontier, seen, 200)
    assert any("seen table" in e for e in errors)


def test_dequeue_check_rejects_swapped_ranks():
    frontier, seen, out = _dequeue_inputs(budget=200)
    bad = out.copy()
    bad.loc[[0, 1], "rank"] = bad.loc[[1, 0], "rank"].to_numpy()
    errors = dequeue_errors(bad, frontier, seen, 200)
    assert any("url_hash order" in e for e in errors)


# -- tracing -------------------------------------------------------------------


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_is_parent_minus_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 3.0, 5.0),
        _span(3, 0, 6.0, 7.0),
        _span(4, 1, 1.5, 2.5),  # grandchild: counts against span 1 only
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 2.0 - 2.0 - 1.0)
    assert own[1] == pytest.approx(1.0)
    assert own[2] == pytest.approx(2.0)
    assert own[4] == pytest.approx(1.0)
    for s in spans:
        kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["id"])
        assert own[s["id"]] + kids == pytest.approx(s["end"] - s["start"])


@pytest.mark.parametrize(
    "bad", [_span(9, 0, 2.0, 4.0), _span(9, 0, 9.5, 11.0)], ids=["overlap", "outside"]
)
def test_self_time_refuses_children_that_do_not_nest(bad):
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), bad]
    with pytest.raises(ValueError, match="span 9"):
        self_times(spans)


def test_engine_metrics_count_only_the_spans_stages():
    stages = [
        {"group": "span-7", "stage": 3, "run_s": 2.0, "gc_s": 0.1, "shuffle_write": 64,
         "spill": 0, "task_records": [30, 10]},
        {"group": "span-8", "stage": 4, "run_s": 1.0, "gc_s": 0.0, "shuffle_write": 0,
         "spill": 5, "task_records": []},
        {"group": None, "stage": 5, "run_s": 9.0, "gc_s": 1.0, "shuffle_write": 9,
         "spill": 9, "task_records": [1, 1000]},
    ]
    m = spark_metrics(stages, {7, 8}, wall_s=1.5, cores=4)
    assert m["spark.task_s"] == pytest.approx(3.0)
    assert m["spark.core_busy_share"] == pytest.approx(0.5)
    assert m["spark.shuffle_bytes"] == 64 and m["spark.spill_bytes"] == 5
    assert max_task_share(stages, {7, 8}) == pytest.approx(0.75)
    assert max_task_share(stages, {8}) == 0.0


# -- dequeue fingerprint (starts a one-core SparkSession) ---------------------


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .getOrCreate()
    )
    yield session
    session.stop()


def test_fingerprint_sees_swapped_ranks_and_ignores_row_order(spark):
    from perfbench.workloads import fingerprint

    _, _, out = _dequeue_inputs(budget=200)
    out = out[["host_hash", "url_hash", "rank"]]
    base = fingerprint(spark.createDataFrame(out))
    shuffled = out.sample(frac=1, random_state=3)
    assert fingerprint(spark.createDataFrame(shuffled)) == base
    swapped = out.copy()
    swapped.loc[[0, 1], "rank"] = swapped.loc[[1, 0], "rank"].to_numpy()
    assert fingerprint(spark.createDataFrame(swapped)) != base
    assert base[0] == len(out)
