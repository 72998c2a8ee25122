"""Membership invariants — bloom no-false-negatives, bloom-prefiltered
anti-join equivalence and the due-or-changed predicate (SURVEY §5.3)."""

from __future__ import annotations

import numpy as np

from crawler_spark.operators.membership import NumpyBloom, exact_anti_join


def test_bloom_no_false_negatives():
    rng = np.random.default_rng(42)
    keys = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    bloom = NumpyBloom(capacity=20_000, fpp=0.01)
    bloom.add(keys)
    assert bloom.might_contain(keys).all()  # the load-bearing property


def test_bloom_false_positive_rate_reasonable():
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 2**62, size=20_000, dtype=np.int64)
    other = rng.integers(-(2**62), -1, size=20_000, dtype=np.int64)
    bloom = NumpyBloom(capacity=20_000, fpp=0.01)
    bloom.add(keys)
    fpr = bloom.might_contain(other).mean()
    assert fpr < 0.05, fpr


def test_bloom_prefiltered_anti_join_equals_exact(spark):
    """The dequeue's not-seen half (NumpyBloom prefilter + exact check of
    the bloom's maybes) keeps exactly the rows the exact anti-join keeps."""
    from crawler_spark.operators.arrow_frontier import dequeue_keys

    new = spark.range(0, 5_000).selectExpr("id as url_hash", "id % 7 as host_hash")
    seen = spark.range(0, 5_000, 3).selectExpr(
        "id as url_hash", "id % 7 as host_hash"
    )
    fast = dequeue_keys(new, seen, budget_per_host=10_000, num_buckets=4)
    slow = exact_anti_join(new, seen, "url_hash")
    got = sorted(r.url_hash for r in fast.collect())
    assert got == sorted(r.url_hash for r in slow.collect())
    expected = [i for i in range(5_000) if i % 3 != 0]
    assert got == expected


def test_due_or_changed_duplicate_key_last_wins_deterministic(spark):
    """VERDICT-r3 #5: with a duplicate-key seen snapshot, the chosen compare
    value must be deterministic. With a version column, max_by pins the
    highest-version title regardless of partition order; without one, the
    aggregate is max(compare) — still deterministic run-to-run."""
    from crawler_spark.operators.membership import due_or_changed

    listing = spark.createDataFrame(
        [("uoj", "1", "new-title"), ("uoj", "2", "v2-title")],
        "judge string, pid string, title string",
    )
    # duplicate (judge,pid) keys with conflicting titles, shuffled across
    # many partitions so any order-dependent agg would flap
    seen = spark.createDataFrame(
        [("uoj", "1", "old-title", 1), ("uoj", "1", "zzz-title", 2),
         ("uoj", "2", "v2-title", 5), ("uoj", "2", "v1-title", 4)],
        "judge string, pid string, title string, version int",
    ).repartition(8)

    # version given: row 2 wins for pid=1 (zzz != new -> due),
    # row v2 wins for pid=2 (v2 == v2 -> not due)
    got = {
        r.pid: r.is_due
        for r in due_or_changed(listing, seen, version="version").collect()
    }
    assert got == {"1": True, "2": False}

    # no version: max(title) — 'zzz-title' for pid=1, 'v2-title' for pid=2;
    # repeat 3x to pin run-to-run determinism under reshuffling
    results = [
        {r.pid: r.is_due
         for r in due_or_changed(listing, seen.repartition(i + 3)).collect()}
        for i in range(3)
    ]
    assert results[0] == results[1] == results[2] == {"1": True, "2": False}


def test_due_or_changed_version_tie_resolves_deterministically(spark):
    """Two duplicate-key rows sharing the SAME max version must still pick
    one deterministic winner: max_by ranks by struct(version, compare), so
    the version tie falls through to max(compare) instead of aggregation
    encounter order."""
    from crawler_spark.operators.membership import due_or_changed

    listing = spark.createDataFrame(
        [("uoj", "1", "bbb")], "judge string, pid string, title string"
    )
    seen = spark.createDataFrame(
        [("uoj", "1", "aaa", 2), ("uoj", "1", "bbb", 2)],
        "judge string, pid string, title string, version int",
    )
    for n in (2, 5, 9):
        got = due_or_changed(
            listing, seen.repartition(n), version="version"
        ).collect()
        # tie on version=2 -> max(title)='bbb' == listing title -> not due
        assert [r.is_due for r in got] == [False], f"partitions={n}"
