"""Spans around the program's public functions, and Spark's stage metrics.

A span records (name, start, end, parent, unit, rows, jobs).  While a span
is open, its Spark jobs carry the job group ``span-<id>``, so Spark's status
store gives the span's job count and maps every stage's task time, shuffle,
spill and GC back to the span.  Spans stay in memory and are written out
when the run ends.

``CrawlWrappers`` replaces, for the traced phase only, the functions that
``crawler_spark.plans.run`` imports and the ``ParquetWarehouse`` methods it
calls.  Each wrapper calls the real function, then checkpoints and counts
the output inside the span, so the span's duration is that layer's own work:
its inputs were already materialized by earlier spans.  Extra counts the
metrics need run in ``trace.stats`` spans, which are children of the
generation too, so they do not land in ``plans.run``'s self time.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STATS = "trace.stats"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, unit: int | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "unit": unit if unit is not None else (parent["unit"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            "rows": None,
            "jobs": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"span-{rec['id']}"
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", f"span-{parent['id']}" if parent else None
            )


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the durations of its child spans, so a span's
    self time plus its children's durations is its duration.

    Spans open and close on one stack, so children lie inside their parent
    one after another; a tree where they do not is refused rather than
    given a self time that would not add up."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        reach = s["start"]
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            if c["start"] < reach or c["end"] > s["end"]:
                raise ValueError(
                    f"span {c['id']} overlaps a sibling or leaves its parent {s['id']}"
                )
            reach = c["end"]
        kids = sum(c["end"] - c["start"] for c in children[s["id"]])
        out[s["id"]] = (s["end"] - s["start"]) - kids
    return out


def _materialize(df: DataFrame | None, rec: dict) -> DataFrame | None:
    """Compute ``df`` once and return it with its lineage cut, so the next
    layer reads the stored rows.  A local checkpoint rather than a cache:
    caches nested layer after layer make every later plan string repeat the
    plans below it, and printing those runs the JVM out of heap."""
    if df is None:
        return None
    done = df.localCheckpoint(eager=True)
    rec["rows"] = done.count()
    return done


class CrawlWrappers:
    """Install span-recording wrappers over the crawl loop's layers."""

    DF_FUNCS = (
        "fetch_stage", "parse_listing", "parse_problem", "extract_max_page",
        "select_generation", "apply_robots", "next_host_state",
        "extract_image_links", "dedupe_assets", "decode_assets",
        "rewrite_descriptions",
    )
    WH_METHODS = ("stage_append", "stage_snapshot", "read_snapshot", "commit")

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import crawler_spark.plans.run as run_mod
        from crawler_spark.sources.warehouse import ParquetWarehouse

        for name in self.DF_FUNCS:
            self._patch(run_mod, name, self._wrap_df(getattr(run_mod, name)))
        for name in self.WH_METHODS:
            self._patch(ParquetWarehouse, name, self._wrap_wh(getattr(ParquetWarehouse, name)))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()

    def _patch(self, owner, name: str, new) -> None:
        self._saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def _wrap_df(self, fn):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(fn.__name__) as rec:
                out = _materialize(fn(*args, **kwargs), rec)
            if fn.__name__ in _STATS_FUNCS:
                with tracer.span(STATS):
                    rec.update(_layer_stats(fn.__name__, args, out))
            return out

        return wrapped

    def _wrap_wh(self, fn):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapped(wh, *args, **kwargs):
            with tracer.span(fn.__name__) as rec:
                out = fn(wh, *args, **kwargs)
                if fn.__name__ == "read_snapshot":
                    out = _materialize(out, rec)
                elif fn.__name__ == "stage_append":
                    table, _df, generation = args[:3]
                    files = list((wh.root / table / f"gen={generation}").glob("part-*"))
                    rec["files"] = len(files)
                    rec["bytes"] = sum(p.stat().st_size for p in files)
            return out

        return wrapped


_STATS_FUNCS = ("fetch_stage", "apply_robots", "select_generation")


def _layer_stats(name: str, args: tuple, out: DataFrame) -> dict:
    """Counts a layer's metrics need beyond its output row count."""
    if name == "fetch_stage":
        parts = (
            out.groupBy(F.spark_partition_id().alias("p"))
            .agg(
                F.count("*").alias("n"),
                F.sum((F.col("status") == "ok").cast("long")).alias("ok"),
                F.sum("attempts").alias("attempts"),
            )
            .collect()
        )
        return {
            "max_part_rows": max((r["n"] for r in parts), default=0),
            "ok": sum(r["ok"] for r in parts),
            "attempts": sum(r["attempts"] for r in parts),
        }
    if name == "apply_robots":
        return {"rows_in": args[0].count()}
    if name == "select_generation":
        return {"rows_in": args[0].count(), "due": out.filter("is_due").count()}
    raise ValueError(name)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def read_stages(sc) -> list[dict]:
    """Per-stage engine metrics of the jobs run inside spans, from the live
    status store, each tagged with its span's job group; per-task shuffle
    records for stages that read a shuffle."""
    store = sc._jsc.sc().statusStore()
    stages = []
    for job in _seq(store.jobsList(None)):
        group = job.jobGroup().get() if job.jobGroup().isDefined() else ""
        if not group.startswith("span-"):
            continue
        for sid in _seq(job.stageIds()):
            sd = store.lastStageAttempt(sid)
            records = []
            if sd.shuffleReadRecords():
                for task in _seq(store.taskList(sid, sd.attemptId(), 100_000)):
                    tm = task.taskMetrics()
                    if tm.isDefined():
                        records.append(tm.get().shuffleReadMetrics().recordsRead())
            stages.append(
                {
                    "group": group,
                    "stage": sid,
                    "run_s": sd.executorRunTime() / 1000.0,
                    "gc_s": sd.jvmGcTime() / 1000.0,
                    "shuffle_write": sd.shuffleWriteBytes(),
                    "spill": sd.diskBytesSpilled(),
                    "task_records": records,
                }
            )
    return stages


def _in_spans(stages: list[dict], span_ids: set[int]) -> list[dict]:
    groups = {f"span-{i}" for i in span_ids}
    return [st for st in stages if st["group"] in groups]


def spark_metrics(stages: list[dict], span_ids: set[int], wall_s: float, cores: int) -> dict:
    """Engine totals over the stages that ran under ``span_ids``."""
    mine = _in_spans(stages, span_ids)
    task_s = sum(st["run_s"] for st in mine)
    return {
        "spark.task_s": task_s,
        "spark.core_busy_share": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_bytes": float(sum(st["shuffle_write"] for st in mine)),
        "spark.spill_bytes": float(sum(st["spill"] for st in mine)),
        "spark.gc_s": sum(st["gc_s"] for st in mine),
    }


def max_task_share(stages: list[dict], span_ids: set[int]) -> float:
    """Largest task's share of the shuffle records its stage reads, for the
    stage under ``span_ids`` that reads the most records."""
    reads = [st["task_records"] for st in _in_spans(stages, span_ids) if st["task_records"]]
    if not reads:
        return 0.0
    biggest = max(reads, key=sum)
    return max(biggest) / sum(biggest) if sum(biggest) else 0.0
