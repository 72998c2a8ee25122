"""The Arrow cogroup dequeue must produce exactly the relational path's
result: same canonicalization, same dedupe, same membership, same per-host
budget cut under the same deterministic priority (url_hash asc)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from crawler_spark.functions.urls import canonicalize, url_hash64


def _synth_urls(spark, n=5000, n_hosts=23):
    base = spark.range(0, n, 1, 8).select((F.col("id") % (n * 9 // 10)).alias("k"))
    host = F.when(F.col("k") % 7 == 0, F.lit(0)).otherwise(
        F.pmod(F.xxhash64("k"), F.lit(n_hosts))
    )
    return base.select(
        F.concat(
            F.lit("HTTP://Host-"),
            host.cast("string"),
            F.lit(".Test:80/p/"),
            F.col("k").cast("string"),
            F.lit("#frag"),
        ).alias("url")
    )


def test_canonicalize_series_matches_column(spark):
    from crawler_spark.operators.arrow_frontier import canonicalize_stage

    urls = _synth_urls(spark, 500).union(
        spark.createDataFrame(
            [
                ("https://EXAMPLE.com:443/a?q=1#x",),
                ("http://example.com:8080",),
                ("ftp://Host.Z:21/file",),
            ],
            "url string",
        )
    )
    jvm = urls.select(
        F.col("url"), canonicalize(F.col("url")).alias("c_jvm")
    )
    arrow = canonicalize_stage(urls)
    got = sorted(r.canonical_url for r in arrow.collect())
    want = sorted(r.c_jvm for r in jvm.collect())
    assert got == want


def test_dequeue_matches_relational_path(spark):
    from crawler_spark.operators.arrow_frontier import (
        canonicalize_stage,
        dequeue_generation,
    )
    from crawler_spark.operators.membership import exact_anti_join

    urls = _synth_urls(spark, 5000)
    frontier = canonicalize_stage(urls)
    seen = (
        canonicalize_stage(_synth_urls(spark, 5000))
        .filter(F.col("url_hash") % 2 == 0)
        .select("url_hash", "host")
    )

    budget = 50
    got = dequeue_generation(
        frontier, seen, budget_per_host=budget, num_buckets=8
    )
    got_rows = {(r.host, r.url_hash) for r in got.collect()}

    # relational reference: dedupe -> anti-join -> per-host window top-k
    from pyspark.sql import Window

    ded = frontier.dropDuplicates(["url_hash"])
    novel = exact_anti_join(ded, seen, "url_hash")
    w = Window.partitionBy("host").orderBy(F.col("url_hash").asc())
    want = (
        novel.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= budget)
    )
    want_rows = {(r.host, r.url_hash) for r in want.collect()}
    assert got_rows == want_rows

    # rank/politeness invariants
    for r in got.collect():
        assert 1 <= r.rank <= budget
        assert r.sched_offset_ms == (r.rank - 1) * 200


def test_dequeue_bloom_no_false_negatives(spark):
    """Every seen url_hash must be absent from the dequeued set."""
    from crawler_spark.operators.arrow_frontier import (
        canonicalize_stage,
        dequeue_generation,
    )

    frontier = canonicalize_stage(_synth_urls(spark, 3000))
    seen = frontier.sample(0.5, seed=7).select("url_hash", "host")
    seen_set = {r.url_hash for r in seen.collect()}
    out = dequeue_generation(frontier, seen, budget_per_host=10_000, num_buckets=8)
    got = {r.url_hash for r in out.collect()}
    assert not (got & seen_set)
