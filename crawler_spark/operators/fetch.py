"""Fetch stage — SURVEY §2.1 S1-S6/S13/S14, §2.7 C1-C3.

``mapInPandas`` over a host-bucketed frontier batch. Inside each task:

- rows are grouped by host and issued **sequentially per host** with
  ``min_delay_ms`` spacing (C1) — the reference got per-host serialization
  free from its single-threaded plugin (tools.go:58); here the partitioner
  guarantees a host lives in exactly one task (host_bucket) and the task
  enforces spacing. Cross-generation spacing carries through the
  ``next_allowed_ts`` column from host_state.
- retry ×3 with inter-attempt delay (C2, tools.go:59-76);
- per-row failure isolation: any error → status='error' row, never a task
  failure (C3, tools.go:357-366).

Two fetchers:
- :class:`SyntheticFetcher` — the deterministic synthetic web (tests/bench).
  Time is SIMULATED: ``fetched_at`` timestamps advance by exactly the
  politeness delay, so invariants are checkable without wall-clock sleeps.
- :class:`HttpFetcher` — real HTTP via stdlib urllib with actual sleeps;
  same envelope. Untestable in this sandbox (no network) but the plumbing is
  identical — swap the fetcher instance.

Scale: the only Python is the fetch itself (network-bound by nature); all
pre/post processing stays in column expressions. Batches arrive via Arrow.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

FETCH_COLS = "status string, http_code int, attempts int, body binary, fetched_at double, wall_ms bigint"


@dataclass
class SyntheticFetcher:
    """Deterministic fetcher over a SynthWeb universe (pickled to tasks)."""

    web: object  # crawler_spark.sources.synthweb.SynthWeb
    max_attempts: int = 3  # tools.go:59 (`for i := 0; i < 3; i++`)

    def fetch(self, url: str, generation: int) -> tuple[str, int, int, bytes | None]:
        fails = self.web.transient_failures(url)
        for attempt in range(1, self.max_attempts + 1):
            if attempt <= fails:
                continue  # simulated 5xx
            code, body = self.web.fetch(url, generation)
            if code == 200:
                return "ok", code, attempt, body
            return "error", code, attempt, None
        return "error", 503, self.max_attempts, None

    def simulated(self) -> bool:
        return True


@dataclass
class MappingFetcher:
    """Dict-backed fetcher (url → body string): the simplest pluggable
    source — fixtures, replay caches, tests.  ``flaky`` marks one url whose
    first attempt fails (exercises the retry envelope, C2)."""

    pages: dict
    flaky: str | None = None

    def fetch(self, url: str, generation: int) -> tuple[str, int, int, bytes | None]:
        attempt = 2 if url == self.flaky else 1
        body = self.pages.get(url)
        if body is None:
            return "error", 404, 1, None
        return "ok", 200, attempt, body if isinstance(body, bytes) else body.encode()

    def simulated(self) -> bool:
        return True


@dataclass
class SessionFetcher:
    """S11 — authenticated session source (bzoj flow,
    /root/reference/plugin/bzoj/bzoj.go:38-68: cookie-jar login POST +
    UA-injecting transport).

    Wraps an inner fetcher; performs the login exchange ONCE per worker
    process (the reference logs in once per plugin process at Start), caches
    the returned session token, and presents it on every subsequent request
    as a ``Cookie:``-style url suffix the inner fetcher understands.  With
    ``HttpFetcher`` inside, swap ``_present`` for a real header map; with
    ``MappingFetcher`` the protocol is testable hermetically: the login url
    maps to the token body, protected pages are keyed ``url‖'␁'‖token``.
    """

    inner: object
    login_url: str
    user_agent: str = "Mozilla/5.0 (crawler-spark)"  # bzoj.go:59 analog
    _token: str | None = None

    def _ensure_login(self) -> str | None:
        if self._token is None:
            status, _code, _att, body = self.inner.fetch(self.login_url, 0)
            if status == "ok" and body is not None:
                tok = body.decode()
                if "alert" in tok:  # bzoj.go:48-50 login-failure check
                    raise RuntimeError(f"login error: {tok[:80]}")
                self._token = tok
        return self._token

    def fetch(self, url: str, generation: int) -> tuple[str, int, int, bytes | None]:
        token = self._ensure_login()
        keyed = f"{url}\x01{token}" if token is not None else url
        return self.inner.fetch(keyed, generation)

    def simulated(self) -> bool:
        return self.inner.simulated()


@dataclass
class HostRoutingFetcher:
    """Route fetches by host: authenticated sources (bzoj) go through their
    SessionFetcher, everything else through the default fetcher.  One
    fetch_stage serves a mixed multi-judge frontier; each worker logs in at
    most once per session-routed host (the token caches inside the
    SessionFetcher instance pickled to the task)."""

    routes: dict  # host → fetcher
    default: object

    def fetch(self, url: str, generation: int) -> tuple[str, int, int, bytes | None]:
        host = url.split("://", 1)[-1].split("/", 1)[0]
        return self.routes.get(host, self.default).fetch(url, generation)

    def simulated(self) -> bool:
        return self.default.simulated()


@dataclass
class HttpFetcher:
    """Real-network fetcher (stdlib urllib), same envelope as SafeGet
    (tools.go:54-77): sleep-before-request, retry ×3, UA header."""

    user_agent: str = "crawler-spark/0.1"
    timeout_s: float = 30.0
    max_attempts: int = 3

    def fetch(self, url: str, generation: int) -> tuple[str, int, int, bytes | None]:
        import urllib.request

        last_code = 0
        for attempt in range(1, self.max_attempts + 1):
            try:
                req = urllib.request.Request(url, headers={"User-Agent": self.user_agent})
                with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                    code = resp.getcode()
                    if code == 200:
                        return "ok", code, attempt, resp.read()
                    last_code = code
            except Exception:  # noqa: BLE001 — C3: isolate, retry
                last_code = 0
        return "error", last_code, self.max_attempts, None

    def simulated(self) -> bool:
        return False


_CLOCK = "__clock_row"


def fetch_stage(
    frontier: DataFrame,
    fetcher,
    num_buckets: int = 32,
    base_ts: float = 1_700_000_000.0,
    clocks: DataFrame | None = None,
) -> DataFrame:
    """Run the fetch over a frontier batch.

    ``frontier`` needs (url, host, generation) and optionally
    (min_delay_ms, next_allowed_ts). Output = input columns + FETCH_COLS.

    One shuffle: ``repartition(num_buckets, 'host_bucket')`` so per-host
    politeness is a task-local property. Rows are sorted (host, url) inside
    the task for deterministic issue order.

    ``clocks`` — (host, next_allowed_ts) rows, e.g. the host_state an
    earlier stage left behind — ride the same shuffle as clock-only rows, so
    each task reads its hosts' clocks without a join or a broadcast. A host
    starts at the latest next_allowed_ts among its rows and clock rows.
    """
    df = frontier
    cols = set(df.columns)
    if "min_delay_ms" not in cols:
        df = df.withColumn("min_delay_ms", F.lit(200))
    if "next_allowed_ts" not in cols:
        df = df.withColumn("next_allowed_ts", F.lit(None).cast("double"))
    if "host_bucket" not in cols:
        df = df.withColumn(
            "host_bucket", F.pmod(F.xxhash64("host"), F.lit(num_buckets)).cast("int")
        )
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
        + ", "
        + FETCH_COLS
    )
    df = df.withColumn(_CLOCK, F.lit(False))
    if clocks is not None:
        df = df.unionByName(_clock_rows(clocks, df, num_buckets))

    simulated = fetcher.simulated()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [b for b in batches if len(b)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        starts = pdf.groupby("host")["next_allowed_ts"].max()  # NaN: no clock
        pdf = pdf[~pdf.pop(_CLOCK)]
        pdf = pdf.sort_values(["host", "url"], kind="mergesort").reset_index(drop=True)
        # host → next-issue clock in INTEGER milliseconds: politeness gaps
        # must hold exactly; float-second accumulation drifts below min_delay
        clocks: dict[str, int] = {}
        status, code, attempts, body, fetched, wall = [], [], [], [], [], []
        for row in pdf.itertuples(index=False):
            delay_ms = int(row.min_delay_ms)
            start_ms = clocks.get(row.host)
            if start_ms is None:
                nat = starts[row.host]
                start_ms = (
                    int(round(float(nat) * 1000)) if nat == nat else int(base_ts * 1000)
                )
            t0 = time.time()
            try:
                st, c, att, b = fetcher.fetch(row.url, int(row.generation))
            except Exception:  # noqa: BLE001 — C3 isolation
                st, c, att, b = "error", 0, 1, None
            wall_ms = int((time.time() - t0) * 1000)
            # politeness: the reference sleeps BEFORE every request and
            # between retries (tools.go:58,67,73) → `att` delays total
            issue_ms = start_ms + delay_ms * att
            if not simulated:
                now = time.time()
                if issue_ms / 1000.0 > now:
                    time.sleep(issue_ms / 1000.0 - now)
            clocks[row.host] = issue_ms
            status.append(st)
            code.append(c)
            attempts.append(att)
            body.append(b)
            fetched.append(issue_ms / 1000.0)
            wall.append(wall_ms)
        out = pdf.copy()
        out["status"] = status
        out["http_code"] = pd.array(code, dtype="int32")
        out["attempts"] = pd.array(attempts, dtype="int32")
        out["body"] = body
        out["fetched_at"] = fetched
        out["wall_ms"] = pd.array(wall, dtype="int64")
        yield out

    return df.repartition(num_buckets, "host_bucket").mapInPandas(run, out_schema)


def _clock_rows(clocks: DataFrame, frontier: DataFrame, num_buckets: int) -> DataFrame:
    """``clocks`` in the frontier's schema, flagged. Integral columns hold 0,
    not NULL, so pandas keeps the frontier's integer columns integral."""
    given = {
        "host": "host",
        "next_allowed_ts": "next_allowed_ts",
        "host_bucket": f"pmod(xxhash64(host), {num_buckets})",
        _CLOCK: "true",
    }
    return clocks.selectExpr(
        *(
            "CAST({} AS {}) AS `{}`".format(
                given.get(f.name, "0" if isinstance(f.dataType, IntegralType) else "NULL"),
                f.dataType.simpleString(),
                f.name,
            )
            for f in frontier.schema
        )
    )


def fetch_log_from(results: DataFrame) -> DataFrame:
    """Project fetch results into the fetch_log table (FIXTURES §A6); the
    generation is the frontier's ``generation`` column."""
    return results.select(
        F.xxhash64("url").alias("url_hash"),
        "url",
        "host",
        F.col("attempts").cast("int").alias("attempts"),
        "status",
        F.col("wall_ms").cast("long").alias("wall_ms"),
        F.col("fetched_at").cast("double").alias("fetched_at"),
        F.col("generation").cast("int").alias("generation"),
    )


def lineage_from(results: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage metrics (FIXTURES §A6b) — pure aggregation.
    ``partition_id`` is the fetch stage's ``host_bucket``: the partition a
    row was fetched in, stable across runs (``spark_partition_id()`` of the
    post-shuffle plan is not)."""
    return (
        results.withColumnRenamed("host_bucket", "partition_id")
        .groupBy("generation", "partition_id")
        .agg(
            F.count("*").alias("urls_in"),
            F.lit(0).cast("long").alias("deduped"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("fetched"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("failed"),
            F.sum(F.coalesce(F.length("body"), F.lit(0)).cast("long")).alias("bytes_out"),
            F.sum("wall_ms").cast("long").alias("wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("generation").cast("int"),
            F.col("partition_id").cast("int"),
            F.col("urls_in").cast("long"),
            F.col("deduped").cast("long"),
            F.col("fetched").cast("long"),
            F.col("failed").cast("long"),
            F.col("bytes_out").cast("long"),
            F.col("wall_ms").cast("long"),
        )
    )
