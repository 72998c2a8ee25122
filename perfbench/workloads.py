"""The benchmark's workloads.

Each workload drives the program only through its public functions and
exposes the same steps to ``run.py``:

- ``setup()``: build the inputs (untimed, counted in ``setup_s``);
- ``run_unit()``: one timed unit, returning ``(token, urls)``; the token
  identifies the unit's output for ``check``;
- ``traced_unit(tracer, k)``: the same unit with spans around each layer;
- ``check(tokens)``: per-unit output errors, run after timing;
- ``layer_metrics(...)``: one traced unit's per-layer numbers.
"""

from __future__ import annotations

import time
from pathlib import Path
from statistics import median

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.operators.arrow_frontier import canonicalize_stage, dequeue_keys
from crawler_spark.operators.fetch import SyntheticFetcher
from crawler_spark.plans.run import run_crawl
from crawler_spark.sources.synthweb import SynthWeb
from perfbench.checks import CrawlUnit, crawl_unit_errors, dequeue_errors
from perfbench.tracing import (
    STATS,
    CrawlWrappers,
    Tracer,
    max_task_share,
    self_times,
    spark_metrics,
)


def _share(num: float, den: float) -> float:
    return num / den if den else 0.0


def _unit_spans(spans: list[dict], unit: int) -> list[dict]:
    return [s for s in spans if s["unit"] == unit]


def _engine_metrics(spans: list[dict], root: dict, stages: list[dict], cores: int) -> dict:
    """spark.* over the unit's spans, leaving out the tracer's own counts."""
    stats = [s for s in spans if s["name"] == STATS]
    work_wall = (root["end"] - root["start"]) - sum(s["end"] - s["start"] for s in stats)
    ids = {s["id"] for s in spans if s["name"] != STATS}
    return spark_metrics(stages, ids, work_wall, cores)


class CrawlRecrawl:
    """Recrawl generations of a SynthWeb whose generation 0 is committed in
    setup.  Every generation re-reads all listing pages, selects the ~10%
    churned pids plus a seeded fill up to ``LIMIT`` per judge, fetches them
    and their images, and rewrites the ``url_seen`` snapshot."""

    name = "crawl-recrawl"
    JUDGES = 8
    PIDS = 100
    LIMIT = 50  # the reference's uoj per-run cap
    # generation 0 (setup) is the warm-up: a further generation costs ~15 s,
    # which the benchmark's time budget does not have
    min_warmup = max_warmup = 0

    def __init__(self, spark: SparkSession, workdir: Path, seed: int):
        self.spark = spark
        self.web = SynthWeb.default(n_judges=self.JUDGES, n_pids=self.PIDS)
        self.web.seed = f"perfbench-{seed}"
        self.root = workdir / "warehouse"
        # one fetch bucket per core, as the shuffle partitions are sized
        self.buckets = spark.sparkContext.defaultParallelism
        self.next_gen = 0
        self._wrappers: CrawlWrappers | None = None

    def setup(self) -> None:
        self.run_unit()  # generation 0 into the empty warehouse

    def run_unit(self) -> tuple[int, int]:
        g = self.next_gen
        (m,) = run_crawl(
            self.spark, str(self.root), self.web, generations=g + 1, limit=self.LIMIT,
            num_buckets=self.buckets,
        )
        self.next_gen += 1
        return g, m["fetches"]

    def traced_unit(self, tracer: Tracer, k: int) -> tuple[int, int]:
        if self._wrappers is None:
            self._wrappers = CrawlWrappers(tracer)
            self._wrappers.install()
        with tracer.span("generation", unit=k) as rec:
            g, fetches = self.run_unit()
        rec["synthweb_s"] = self._time_synthweb(g)
        return g, fetches

    def end_trace(self) -> None:
        if self._wrappers is not None:
            self._wrappers.uninstall()
            self._wrappers = None

    def _time_synthweb(self, g: int) -> float:
        """Single-threaded time the simulated web takes to answer every
        request of generation ``g``, outside Spark."""
        urls = self._read("fetch_log", g, ["url"]).column("url").to_pylist()
        fetcher = SyntheticFetcher(self.web)
        t0 = time.perf_counter()
        for url in urls:
            fetcher.fetch(url, g)
        return time.perf_counter() - t0

    def _read(self, table: str, g: int, columns: list[str]):
        return pq.read_table(self.root / table / f"gen={g}", columns=columns)

    def check(self, gens: list[int]) -> dict[int, list[str]]:
        from tests.reference_impl import reference_crawl

        fetches = []
        for g in range(max(gens) + 1):
            t = self._read("fetch_log", g, ["host", "fetched_at"])
            fetches += [(h, ts, g) for h, ts in zip(*(c.to_pylist() for c in t.columns))]
        out = {}
        for g in gens:
            seen = self._read("url_seen", g, ["judge", "pid", "title"]).to_pylist()
            imgs = self._read("images", g, ["image_id", "caption"]).to_pylist()
            hs = self._read("host_state", g, ["host", "min_delay_ms"]).to_pylist()
            got = CrawlUnit(
                generation=g,
                seen={(r["judge"], r["pid"]): r["title"] for r in seen},
                problems=self._read(
                    "problems", g,
                    ["judge", "pid", "crawl_seq", "status", "title", "description"],
                ).to_pylist(),
                images={r["image_id"]: r["caption"] for r in imgs},
                fetches=[f for f in fetches if f[2] <= g],
                min_delay_ms={r["host"]: r["min_delay_ms"] for r in hs},
            )
            out[g] = crawl_unit_errors(got, reference_crawl(self.web, g + 1, self.LIMIT))
        return out

    def layer_metrics(self, spans: list[dict], unit: int, stages: list[dict], cores: int) -> dict:
        mine = _unit_spans(spans, unit)
        own = self_times(mine)
        root = next(s for s in mine if s["name"] == "generation")

        def named(*names):
            return [s for s in mine if s["name"] in names]

        def self_s(*names):
            return sum(own[s["id"]] for s in named(*names))

        def total(key, *names):
            return float(sum(s.get(key) or 0 for s in named(*names)))

        fetch_rows = total("rows", "fetch_stage")
        sel_in = total("rows_in", "select_generation")
        links = total("rows", "extract_image_links")
        m = {
            "run.self_s": own[root["id"]],
            "politeness.s": self_s("apply_robots", "next_host_state"),
            "politeness.rows_dropped": total("rows_in", "apply_robots")
            - total("rows", "apply_robots"),
            "frontier.select_s": self_s("select_generation"),
            "frontier.rows_in": sel_in,
            "frontier.rows_out": total("rows", "select_generation"),
            "frontier.due_share": _share(total("due", "select_generation"), sel_in),
            "warehouse.read_s": self_s("read_snapshot"),
            "warehouse.commit_s": self_s("commit"),
            "warehouse.write_s": self_s("stage_append", "stage_snapshot"),
            "warehouse.bytes_written": total("bytes", "stage_append"),
            "warehouse.files_written": total("files", "stage_append"),
            "fetch.s": self_s("fetch_stage"),
            "fetch.rows": fetch_rows,
            "fetch.ok_share": _share(total("ok", "fetch_stage"), fetch_rows),
            "fetch.attempts_per_row": _share(total("attempts", "fetch_stage"), fetch_rows),
            "fetch.max_task_share": _share(total("max_part_rows", "fetch_stage"), fetch_rows),
            "parse.s": self_s("parse_listing", "parse_problem", "extract_max_page"),
            "parse.rows_out": total("rows", "parse_listing", "parse_problem"),
            "images.extract_s": self_s("extract_image_links", "dedupe_assets"),
            "images.unique_share": _share(total("rows", "dedupe_assets"), links),
            "images.decode_s": self_s("decode_assets"),
            "images.decoded": total("rows", "decode_assets"),
            "images.rewrite_s": self_s("rewrite_descriptions"),
            "synthweb.s": root["synthweb_s"],
        }
        m.update(_engine_metrics(mine, root, stages, cores))
        return m


def fingerprint(out: DataFrame) -> tuple[int, int]:
    """(rows, sum over rows of xxhash64(host_hash, url_hash, rank)) of a
    dequeue output.  It does not depend on row order, and a row whose key,
    host or rank changes changes it, so a timed pass can be checked against
    the one pass ``check`` inspects row by row."""
    row_hash = F.xxhash64("host_hash", "url_hash", "rank").cast("decimal(38,0)")
    r = out.agg(F.count("*").alias("n"), F.sum(row_hash).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


class FrontierDequeue:
    """Raw URL strings → ``canonicalize_stage`` → (url_hash, xxhash64(host))
    → ``dequeue_keys`` against a seen-key table over half the key space.
    About 10% of the URLs repeat within the batch and one host holds about
    half of them; the input is not salted."""

    name = "frontier-dequeue"
    N_URLS = 300_000
    BUDGET = 10_000
    # the first pass is cold (~4x); the next five still fall by ~20% in all
    min_warmup, max_warmup = 6, 10

    def __init__(self, spark: SparkSession, workdir: Path, seed: int):
        self.spark = spark
        self.seed = seed
        self.urls_path = str(workdir / "frontier_urls")
        self.seen_path = str(workdir / "seen_keys")

    def _generated(self, n: int) -> DataFrame:
        """(raw url, canonical url, host, k) for ids 0..n-1: key k = id mod
        0.9·N (so ~10% repeat), host 0 for about half the keys."""
        key_space = int(self.N_URLS * 0.9)
        n_hosts = max(self.N_URLS // 1000, 16)
        k = F.col("id") % key_space
        seed = F.lit(self.seed)
        hot = F.pmod(F.xxhash64(seed, k, F.lit("hot")), F.lit(2)) == 0
        host = F.when(hot, F.lit(0)).otherwise(
            F.pmod(F.xxhash64(seed, k, F.lit("host")), F.lit(n_hosts - 1)) + 1
        ).cast("string")
        path = F.concat(F.lit(f"/s{self.seed}/p/"), k.cast("string"))
        return self.spark.range(0, n, 1, 8).select(
            F.concat(F.lit("HTTP://Host-"), host, F.lit(".Test:80"), path, F.lit("#frag"))
            .alias("url"),
            F.concat(F.lit("http://host-"), host, F.lit(".test"), path).alias("canonical"),
            F.concat(F.lit("host-"), host, F.lit(".test")).alias("host"),
            k.alias("k"),
        )

    def _expected_keys(self, df: DataFrame) -> DataFrame:
        return df.select(
            F.xxhash64("host").alias("host_hash"),
            F.xxhash64("canonical").alias("url_hash"),
        )

    def setup(self) -> None:
        urls = self._generated(self.N_URLS).select("url")
        urls.write.mode("overwrite").parquet(self.urls_path)
        key_space = int(self.N_URLS * 0.9)
        seen = self._generated(key_space).filter(
            F.pmod(F.xxhash64(F.lit(self.seed), "k", F.lit("seen")), F.lit(2)) == 0
        )
        self._expected_keys(seen).write.mode("overwrite").parquet(self.seen_path)

    def _keyed(self) -> DataFrame:
        canon = canonicalize_stage(self.spark.read.parquet(self.urls_path))
        return canon.select("url_hash", F.xxhash64("host").alias("host_hash"))

    def _dequeue(self, keyed: DataFrame) -> DataFrame:
        return dequeue_keys(
            keyed, self.spark.read.parquet(self.seen_path), budget_per_host=self.BUDGET
        )

    def run_unit(self) -> tuple[tuple, int]:
        return fingerprint(self._dequeue(self._keyed())), self.N_URLS

    def traced_unit(self, tracer: Tracer, k: int) -> tuple[tuple, int]:
        with tracer.span("pass", unit=k):
            with tracer.span("canonicalize_stage"):
                canonicalize_stage(self.spark.read.parquet(self.urls_path)).write.format(
                    "noop"
                ).mode("overwrite").save()
            with tracer.span(STATS):
                keyed = self._keyed().persist()
                keyed.count()
            with tracer.span("dequeue_keys") as rec:
                token = fingerprint(self._dequeue(keyed))
                rec["rows"] = token[0]
            keyed.unpersist()
        return token, self.N_URLS

    def end_trace(self) -> None:
        pass

    def check(self, tokens: list[tuple]) -> dict[tuple, list[str]]:
        out = self._dequeue(self._keyed()).localCheckpoint(eager=True)
        want = fingerprint(out)  # of the very rows checked below
        rows = out.select("host_hash", "url_hash", "rank").toPandas()
        frontier = self._expected_keys(self._generated(self.N_URLS)).toPandas()
        seen = self.spark.read.parquet(self.seen_path).select("url_hash").toPandas()
        errors = dequeue_errors(rows, frontier, seen["url_hash"].to_numpy(), self.BUDGET)
        return {
            t: errors + ([] if t == want else [f"output fingerprint {t} != {want}"])
            for t in tokens
        }

    def layer_metrics(self, spans: list[dict], unit: int, stages: list[dict], cores: int) -> dict:
        mine = _unit_spans(spans, unit)
        root = next(s for s in mine if s["name"] == "pass")
        canon = next(s for s in mine if s["name"] == "canonicalize_stage")
        deq = next(s for s in mine if s["name"] == "dequeue_keys")
        deq_engine = spark_metrics(stages, {deq["id"]}, deq["end"] - deq["start"], cores)
        m = {
            "arrow_frontier.canonicalize_s": canon["end"] - canon["start"],
            "arrow_frontier.dequeue_s": deq["end"] - deq["start"],
            "arrow_frontier.shuffle_bytes": deq_engine["spark.shuffle_bytes"],
            "arrow_frontier.max_task_share": max_task_share(stages, {deq["id"]}),
            "arrow_frontier.out_share": deq["rows"] / self.N_URLS,
        }
        m.update(_engine_metrics(mine, root, stages, cores))
        return m


WORKLOADS = {w.name: w for w in (CrawlRecrawl, FrontierDequeue)}


def median_metrics(per_unit: list[dict]) -> dict:
    return {k: float(median(u[k] for u in per_unit)) for k in per_unit[0]}
