"""Golden crawl-loop tests (SURVEY §5.2-5.3): the Spark engine vs the pure-
Python restatement of the reference semantics, plus invariant and resume
checks — all on the deterministic synthetic web."""

from __future__ import annotations

import numpy as np
import pytest

from crawler_spark.plans.run import run_crawl
from crawler_spark.sources import codecs
from crawler_spark.sources.warehouse import ParquetWarehouse
from tests.reference_impl import reference_crawl

GENERATIONS = 2
LIMIT = 6


@pytest.fixture(scope="session")
def crawled(spark, web, tmp_path_factory):
    whdir = str(tmp_path_factory.mktemp("wh"))
    metrics = run_crawl(spark, whdir, web, generations=GENERATIONS, limit=LIMIT,
                        num_buckets=4)
    wh = ParquetWarehouse(whdir, spark)
    ref = reference_crawl(web, GENERATIONS, LIMIT)
    return wh, ref, metrics


def test_url_seen_set_matches_reference(crawled):
    wh, ref, _ = crawled
    got = {
        (r.judge, r.pid): r.title
        for r in wh.read_snapshot("url_seen").collect()
    }
    assert got == ref["seen"]


def test_crawl_order_matches_reference(crawled):
    wh, ref, _ = crawled
    got = sorted(
        (r.generation, r.judge, r.pid, r.crawl_seq)
        for r in wh.read_appends("problems").collect()
    )
    assert got == sorted(ref["crawl_order"])


def test_problem_rows_match_reference(crawled):
    wh, ref, _ = crawled
    rows = {
        (r.generation, r.judge, r.pid): r
        for r in wh.read_appends("problems").collect()
    }
    assert set(rows) == set(ref["problems"])
    for key, want in ref["problems"].items():
        r = rows[key]
        assert r.status == want["status"], key
        if want["status"] == "ok":
            assert r.title == want["title"], key
            assert r.description == want["description"], key
        else:
            # C3/W3: failed fetch keeps its listing entry, writes no content
            assert r.description is None


def test_images_match_reference_with_psnr(crawled, web):
    wh, ref, _ = crawled
    got = {r.image_id: r for r in wh.read_appends("images").collect()}
    want_keys = {k for (_g, k) in ref["images"]}
    assert set(got) == want_keys
    for (_g, key), want in ref["images"].items():
        r = got[key]
        assert r.caption == want["caption"], key  # caption equality (input_hint)
        truth = web.image_rgb(want["url"])
        decoded = codecs.decode_image(bytes(r.bytes), r.fmt)
        assert (r.h, r.w) == truth.shape[:2]
        if r.fmt == "png":
            assert (decoded == truth).all(), key  # lossless exact
        else:
            assert codecs.psnr(truth, decoded) >= 40.0, key  # lossy PSNR gate
        assert r.phash == codecs.phash64(decoded)


def test_politeness_gaps_and_retry_budget(crawled):
    wh, _, _ = crawled
    fl = wh.read_appends("fetch_log").toPandas()
    hs = wh.read_snapshot("host_state").toPandas().set_index("host")
    assert fl["attempts"].max() <= 3  # C2
    for host, grp in fl.groupby("host"):
        ts = np.sort(grp["fetched_at"].to_numpy())
        gaps_ms = np.diff(ts) * 1000
        # effective delay ≥ host min_delay (crawl_delay can only raise it)
        need = hs.loc[host, "min_delay_ms"]
        assert (gaps_ms >= need - 0.01).all(), (host, gaps_ms.min(), need)


def test_failed_links_left_intact(crawled, web):
    """C3: an image that permanently fails keeps its ORIGINAL link."""
    wh, ref, _ = crawled
    descs = [
        r.description
        for r in wh.read_appends("problems").collect()
        if r.description is not None
    ]
    assert any("/missing/" in d for d in descs) or all(
        web.transient_failures(u) < 3
        for (_g, k) in ref["images"]
        for u in [ref["images"][(_g, k)]["url"]]
    )


def test_lineage_accounts_for_problem_fetches(crawled):
    wh, ref, _ = crawled
    lin = wh.read_appends("lineage").toPandas()
    per_gen = lin.groupby("generation")[["urls_in", "fetched", "failed"]].sum()
    for g in range(GENERATIONS):
        want = sum(1 for (gg, _j, _p, _s) in ref["crawl_order"] if gg == g)
        assert per_gen.loc[g, "urls_in"] == want
        assert (
            per_gen.loc[g, "fetched"] + per_gen.loc[g, "failed"]
            == per_gen.loc[g, "urls_in"]
        )


def test_resume_is_idempotent(spark, web, tmp_path_factory, crawled):
    """Kill-and-resume (W4/W5): run gen 0, then resume to gen 1 in a second
    process-equivalent call; final state equals the uninterrupted run."""
    wh_full, _, _ = crawled
    whdir = str(tmp_path_factory.mktemp("wh_resume"))
    run_crawl(spark, whdir, web, generations=1, limit=LIMIT, num_buckets=4)
    # resume: asks for 2 generations; generation 0 must be skipped
    run_crawl(spark, whdir, web, generations=GENERATIONS, limit=LIMIT, num_buckets=4)
    wh2 = ParquetWarehouse(whdir, spark)
    assert wh2.committed_generations() == [0, 1]

    seen_a = {(r.judge, r.pid, r.title) for r in wh_full.read_snapshot("url_seen").collect()}
    seen_b = {(r.judge, r.pid, r.title) for r in wh2.read_snapshot("url_seen").collect()}
    assert seen_a == seen_b
    prob_a = sorted(
        (r.generation, r.judge, r.pid, r.crawl_seq, r.status)
        for r in wh_full.read_appends("problems").collect()
    )
    prob_b = sorted(
        (r.generation, r.judge, r.pid, r.crawl_seq, r.status)
        for r in wh2.read_appends("problems").collect()
    )
    assert prob_a == prob_b


def test_uncommitted_generation_is_invisible(spark, web, tmp_path_factory):
    """A crash before the manifest lands = rollback (W5)."""
    whdir = str(tmp_path_factory.mktemp("wh_crash"))
    wh = ParquetWarehouse(whdir, spark)
    df = spark.createDataFrame([("j", "P1")], "judge string, pid string")
    wh.stage_append("problems", df, 0)  # staged, never committed
    assert wh.read_appends("problems") is None
    assert wh.last_generation() is None


def test_time_travel_reads(crawled):
    """Iceberg VERSION-AS-OF parity: reading as of generation g shows exactly
    the state after g's commit — the crawl history IS the commit log."""
    wh, _ref, _metrics = crawled
    gens = wh.committed_generations()
    assert len(gens) >= 2
    g0 = gens[0]
    full = wh.read_appends("problems").count()
    at_g0 = wh.read_appends("problems", as_of_generation=g0).count()
    assert 0 < at_g0 < full
    seen_g0 = wh.read_snapshot("url_seen", as_of_generation=g0)
    seen_now = wh.read_snapshot("url_seen")
    assert seen_g0.count() <= seen_now.count()
    # the as-of seen set equals the g0 snapshot exactly
    assert {r.pid for r in seen_g0.collect()} == {
        r.pid
        for r in wh.spark.read.parquet(
            str(wh.root / "url_seen" / f"gen={g0}")
        ).collect()
    }


def test_bucketed_seen_crawl_matches_plain(spark, web, tmp_path_factory, crawled):
    """--seen-buckets routes url_seen through the co-located store; the
    crawl must be byte-identical to the plain-parquet path (same web, same
    seed), and the second generation must READ the bucketed snapshot."""
    wh_plain, _, _ = crawled
    whdir = str(tmp_path_factory.mktemp("wh_bucketed"))
    run_crawl(spark, whdir, web, generations=GENERATIONS, limit=LIMIT,
              num_buckets=4, seen_buckets=4)
    wh = ParquetWarehouse(whdir, spark)

    def rows(w):
        return sorted(
            (r.judge, r.pid, r.title, r.url_hash, r.last_generation)
            for r in w.read_snapshot("url_seen").collect()
        )

    # read_snapshot (plain parquet read of the bucketed files) proves the
    # files are ordinary parquet; equality proves semantics are unchanged
    assert rows(wh) == rows(wh_plain)
    probs = sorted(
        (r.judge, r.pid) for r in wh.read_appends("problems").collect()
    )
    probs_plain = sorted(
        (r.judge, r.pid) for r in wh_plain.read_appends("problems").collect()
    )
    assert probs == probs_plain
    # the bucketed catalog entry for the last committed generation exists
    g = wh.last_generation()
    name = wh._bucket_table_name("url_seen", g)
    assert spark.catalog.tableExists(name)


def test_compacting_crawl_matches_plain_and_resumes(
    spark, web, tmp_path_factory, crawled
):
    """--compact-every runs sort-clustered compaction inside the loop; the
    crawl must stay byte-identical to the plain run, expiry must reclaim
    the per-generation dirs, and resume must keep working on top of a
    compacted store (new generations union over the rewrite)."""
    from pathlib import Path

    from crawler_spark.plans.run import run_crawl as rc

    wh_plain, _, _ = crawled
    whdir = str(tmp_path_factory.mktemp("wh_compact"))
    rc(spark, whdir, web, generations=GENERATIONS, limit=LIMIT,
       num_buckets=4, compact_every=1, expire=True)
    wh = ParquetWarehouse(whdir, spark)

    def probs(w):
        return sorted(
            (r.generation, r.judge, r.pid, r.title, r.status, r.crawl_seq)
            for r in w.read_appends("problems").collect()
        )

    assert probs(wh) == probs(wh_plain)
    # compaction published and expiry reclaimed every superseded gen dir
    assert (Path(whdir) / "problems" / "_compaction.json").exists()
    assert not list((Path(whdir) / "problems").glob("gen=*"))
    # resume on the compacted store: generation 2 lands on top of the rewrite
    rc(spark, whdir, web, generations=GENERATIONS + 1, limit=LIMIT,
       num_buckets=4)
    gens = {
        r.generation
        for r in wh.read_appends("problems").select("generation").collect()
    }
    assert gens == set(range(GENERATIONS + 1))


def test_independent_runs_are_byte_deterministic(spark, web, crawled,
                                                 tmp_path_factory):
    """Golden determinism: a SECOND independent run (fresh warehouse, same
    seed/config) commits row-identical tables — the property that makes a
    re-crawl after data loss, or a parallel verification run, trustworthy.
    Row sets are compared on every committed table; timestamps are
    deterministic by construction (simulated clock)."""
    wh1, _, _ = crawled
    whdir2 = str(tmp_path_factory.mktemp("wh_repeat"))
    run_crawl(spark, whdir2, web, generations=GENERATIONS, limit=LIMIT,
              num_buckets=4)
    wh2 = ParquetWarehouse(whdir2, spark)
    for table in ("problems", "images", "fetch_log", "listing", "lineage"):
        x, y = wh1.read_appends(table), wh2.read_appends(table)
        if table in ("fetch_log", "lineage"):
            # wall_ms is MEASURED latency (real wall clock) — legitimate
            # telemetry nondeterminism; the guarantee covers content
            x, y = x.drop("wall_ms"), y.drop("wall_ms")
        a = sorted(map(tuple, x.collect()))
        b = sorted(map(tuple, y.collect()))
        assert a == b, f"append table {table} diverged between runs"
    for table in ("url_seen", "host_state"):
        a = sorted(map(tuple, wh1.read_snapshot(table).collect()))
        b = sorted(map(tuple, wh2.read_snapshot(table).collect()))
        assert a == b, f"snapshot table {table} diverged between runs"


# A recrawl generation's Spark jobs: each fetch stage is one shuffle whose
# results the next stage's jobs store, C4 and the manifest counts are
# Observations on jobs that already run, and the seven staged writes are one
# job each plus their own shuffles.  Eager count()s and host
# clock checkpoints per stage took a generation to ~70.
JOB_BUDGET = 25


def test_recrawl_generation_job_budget(spark, web, tmp_path_factory):
    whdir = str(tmp_path_factory.mktemp("wh_jobs"))
    run_crawl(spark, whdir, web, generations=1, limit=LIMIT, num_buckets=4)
    sc = spark.sparkContext
    group = "recrawl-job-budget"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        (m,) = run_crawl(spark, whdir, web, generations=2, limit=LIMIT,
                         num_buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m["generation"] == 1
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= JOB_BUDGET, f"{len(jobs)} Spark jobs in one recrawl generation"


def test_recrawl_generations_compile_no_new_code(spark, web, tmp_path_factory):
    """Once one recrawl generation has run, the next compiles no generated
    class: no plan carries the generation number as an inlined literal, so
    every generated class is a codegen cache hit.  The generation turns
    whole-stage codegen off for its own jobs only."""
    whdir = str(tmp_path_factory.mktemp("wh_codegen"))
    run_crawl(spark, whdir, web, generations=2, limit=LIMIT, num_buckets=4)
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics.METRIC_COMPILATION_TIME()
    before = compiles.getCount()
    wscg = spark.conf.get("spark.sql.codegen.wholeStage", None)
    (m,) = run_crawl(spark, whdir, web, generations=3, limit=LIMIT, num_buckets=4)
    assert m["generation"] == 2
    assert compiles.getCount() == before, (
        f"{compiles.getCount() - before} classes compiled by generation 2"
    )
    assert spark.conf.get("spark.sql.codegen.wholeStage", None) == wscg


def test_manifest_counts_equal_committed_rows(crawled):
    """The manifest's counts are observed on the staging writes; they must
    equal the rows each generation committed."""
    wh, _, _ = crawled
    gens = wh.committed_generations()
    assert gens
    for g in gens:
        metrics = wh.manifest(g)["metrics"]
        for key, table in (("problems", "problems"), ("images", "images"),
                           ("fetches", "fetch_log")):
            rows = wh.spark.read.parquet(str(wh.root / table / f"gen={g}")).count()
            assert metrics[key] == rows, (g, table)
