"""Crawl benchmark: one workload per process, timed end to end or per layer.

    python3 perfbench/run.py --workload crawl-recrawl --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``):

- ``crawl-recrawl``: ``plans.run.run_crawl`` generations after generation 0
  over a seeded SynthWeb; the fixed per-generation cost dominates.
- ``frontier-dequeue``: ``arrow_frontier.canonicalize_stage`` +
  ``dequeue_keys`` over 300k raw URLs with one hot host.

The process starts one ``local[nproc]`` Spark session with a fixed heap
sized from ``/proc/meminfo``, builds the inputs, runs warm-up units until
the wall stops falling (the crawl's generation 0 is its only warm-up), then
times units for ``--seconds`` (at least one) and checks every timed unit's
output.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (process start
through warm-up), ``generation_s`` (median unit wall), ``urls_per_s``
(fetch_log rows or input URLs per timed second) and ``peak_rss_mb`` (peak
RSS of the process tree: this process, the JVM and the Python workers).
``--trace 1`` runs the untraced units, then the same units with spans
around every layer, and prints the per-layer metrics (medians over traced
units).  Units that raise or fail their check count as ``failed``.

The last stdout line is the JSON result; the full record (box, warm-up,
per-unit walls and checks, spans, the layer-to-metric map) goes to
``perfbench/_out/``.  Scratch data lives under ``perfbench/_work/`` and is
removed at exit.  The benchmark's own tests: ``python -m pytest perfbench/tests``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import threading
import time
from pathlib import Path
from statistics import median

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from perfbench.metrics import LAYER, WORKLOADS, layer_map, result_line  # noqa: E402

# after the workload's ``min_warmup`` units, warm-up stops when a unit is no
# more than this much faster than the one before it, or after ``max_warmup``
WARMUP_FALL = 0.05


def box_info(seed: int) -> dict:
    mem = {}
    for line in Path("/proc/meminfo").read_text().splitlines():
        key, _, rest = line.partition(":")
        mem[key] = int(rest.split()[0])  # kB
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem["MemAvailable"] // 1024,
        "python": platform.python_version(),
        "seed": seed,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _peak_rss_kb(pid: int) -> int | None:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        return None
    return None


class RssSampler(threading.Thread):
    """Tracks the peak RSS of this process tree until stopped.

    Every ``interval_s`` it sums the kernel's per-process peak (VmHWM) over
    the live processes of the tree, so a short spike between two samples
    still counts, and keeps the largest sum seen.
    """

    def __init__(self, interval_s: float = 0.2):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            kb = sum(_peak_rss_kb(p) or 0 for p in descendants(os.getpid()))
            self.peak_mb = max(self.peak_mb, kb / 1024)
            self._halt.wait(self.interval_s)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def start_spark(box: dict, work: Path):
    from crawler_spark.session import get_spark

    heap_mb = min(4096, max(1024, box["mem_total_mb"] // 8))
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        # a fixed heap: heap growth then does not vary with GC timing
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads per-stage metrics back from the status store
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "20000",
    }
    cores = box["nproc"]
    return get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while len(descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _units(step, seconds: float) -> list[dict]:
    """Run ``step(k)`` until ``seconds`` have passed (at least once).  A
    unit that raises is recorded and ends the loop."""
    units: list[dict] = []
    t_end = time.perf_counter() + seconds
    while not units or time.perf_counter() < t_end:
        k = len(units)
        t0 = time.perf_counter()
        try:
            token, urls = step(k)
        except Exception as exc:  # noqa: BLE001 - a failed unit is a result
            error = f"{type(exc).__name__}: {exc}"[:4000]
            units.append({"wall_s": time.perf_counter() - t0, "error": error})
            break
        units.append({"wall_s": time.perf_counter() - t0, "token": token, "urls": urls})
    return units


def measure(workload, sc, seconds: float, trace: bool, t_start: float) -> dict:
    workload.setup()
    warm = []
    while len(warm) < workload.max_warmup:
        t0 = time.perf_counter()
        workload.run_unit()
        warm.append(time.perf_counter() - t0)
        steady = len(warm) > 1 and warm[-1] > warm[-2] * (1 - WARMUP_FALL)
        if steady and len(warm) >= workload.min_warmup:
            break
    setup_s = time.perf_counter() - t_start
    jobs: list[int] = []

    def untraced(k):
        group = f"unit-{k}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return workload.run_unit()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    units = _units(untraced, seconds)
    from perfbench.tracing import Tracer

    tracer, traced = Tracer(sc), []
    if trace and "error" not in units[-1]:
        try:
            traced = _units(lambda k: workload.traced_unit(tracer, k), seconds)
        finally:
            workload.end_trace()
        for k, u in enumerate(traced):
            u["traced"] = k
        # untraced units on both sides of the traced ones, so that units
        # still getting faster do not bias trace.overhead_s
        if "error" not in traced[-1]:
            units += _units(lambda k: untraced(len(units) + k), seconds)
    for u, n in zip(units, jobs):
        u["jobs"] = n
    done = [u for u in units + traced if "error" not in u]
    t0 = time.perf_counter()
    verdicts = workload.check([u["token"] for u in done]) if done else {}
    check_s = time.perf_counter() - t0
    for u in done:
        u["errors"] = verdicts[u["token"]]
    return {
        "setup_s": setup_s,
        "check_s": check_s,
        "warmup_walls_s": warm,
        "units": units,
        "traced": traced,
        "tracer": tracer,
    }


def _failed(u: dict) -> bool:
    return "error" in u or bool(u["errors"])


def e2e_metrics(res: dict, peak_rss_mb: float) -> dict:
    ok = [u for u in res["units"] if "error" not in u] or res["units"]
    walls = [u["wall_s"] for u in ok]
    return {
        "setup_s": res["setup_s"],
        "generation_s": median(walls),
        "urls_per_s": sum(u.get("urls", 0) for u in ok) / sum(walls),
        "peak_rss_mb": peak_rss_mb,
    }


def layer_metrics(workload, res: dict, stages: list[dict], cores: int) -> dict:
    from perfbench.workloads import median_metrics

    spans = res["tracer"].spans
    per_unit = [
        workload.layer_metrics(spans, u["traced"], stages, cores)
        for u in res["traced"]
        if "error" not in u
    ]
    m = dict.fromkeys(LAYER, 0.0)
    if per_unit:
        m.update(median_metrics(per_unit))
    untraced = [u["wall_s"] for u in res["units"] if "error" not in u]
    traced = [u["wall_s"] for u in res["traced"] if "error" not in u]
    if untraced and traced:
        m["trace.overhead_s"] = median(traced) - median(untraced)
    if workload.name == "crawl-recrawl" and res["units"]:
        m["run.jobs_per_generation"] = float(median(u["jobs"] for u in res["units"]))
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    trace = bool(args.trace)

    box = box_info(args.seed)
    work = REPO / "perfbench" / "_work" / f"{args.workload}-{os.getpid()}"
    out_dir = REPO / "perfbench" / "_out"
    out_dir.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True)
    # keep every file the run writes inside the checkout: Python and JVM
    # temp files, Spark's local dirs, and no JVM perf-data file in /tmp
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        import pyspark

        from perfbench.workloads import WORKLOADS as IMPLS

        box["spark"] = pyspark.__version__
        spark = start_spark(box, work)
        session_s = time.perf_counter() - t_start
        workload = IMPLS[args.workload](spark, work, args.seed)
        res = measure(workload, spark.sparkContext, args.seconds, trace, t_start)
        if trace:
            from perfbench.tracing import read_stages

            stages = read_stages(spark.sparkContext)
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    if trace:
        metrics = layer_metrics(workload, res, stages, box["nproc"])
    else:
        metrics = e2e_metrics(res, sampler.peak_mb)

    units = res["units"] + res["traced"]
    failed = sum(_failed(u) for u in units)
    record = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "box": box,
        "session_s": session_s,
        "setup_s": res["setup_s"],
        "check_s": res["check_s"],
        "warmup_units": len(res["warmup_walls_s"]),
        "warmup_walls_s": res["warmup_walls_s"],
        "total_s": time.perf_counter() - t_start,
        "units": [{k: v for k, v in u.items() if k != "token"} for u in units],
        "metrics": metrics,
    }
    if trace:
        record["layer_map"] = layer_map()
        record["spans"] = res["tracer"].spans
    detail = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    detail.write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps({"box": box, "warmup_units": len(res["warmup_walls_s"]),
                      "detail": str(detail.relative_to(REPO))}))
    print(result_line(metrics, trace, len(units), failed, failed == 0))
    return 0


if __name__ == "__main__":
    sys.exit(main())
