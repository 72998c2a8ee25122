"""Selection semantics — exact ChooseUpdateProblem parity (tools.go:327-353)."""

from __future__ import annotations

import hashlib

from crawler_spark.operators.frontier import select_generation


def _listing(spark, rows):
    return spark.createDataFrame(
        rows, "judge string, pid string, title string, listing_pos int"
    )


def _seen(spark, rows):
    return spark.createDataFrame(rows, "judge string, pid string, title string")


def test_due_unbounded_and_fill_to_limit(spark):
    listing = _listing(
        spark,
        [("j", f"P{i}", f"t{i}", i) for i in range(10)],
    )
    # 4 seen-and-unchanged, 1 seen-but-changed, 5 new
    seen = _seen(
        spark,
        [("j", "P0", "t0"), ("j", "P1", "t1"), ("j", "P2", "t2"),
         ("j", "P3", "t3"), ("j", "P4", "OLD")],
    )
    out = select_generation(listing, seen, limit=3, seed="s").collect()
    due = sorted(r.pid for r in out if r.is_due)
    assert due == ["P4", "P5", "P6", "P7", "P8", "P9"]  # unbounded delta pass
    assert len(out) == 6  # due(6) > limit(3) ⇒ no fill at all
    # due rows keep listing order
    order = [r.pid for r in sorted(out, key=lambda r: r.crawl_seq)]
    assert order == ["P4", "P5", "P6", "P7", "P8", "P9"]


def test_fill_order_is_seeded_md5(spark):
    listing = _listing(spark, [("j", f"P{i}", f"t{i}", i) for i in range(6)])
    seen = _seen(spark, [("j", f"P{i}", f"t{i}") for i in range(6)])  # all seen
    out = sorted(select_generation(listing, seen, limit=4, seed="sd").collect(),
                 key=lambda r: r.crawl_seq)
    assert len(out) == 4 and not any(r.is_due for r in out)
    want = sorted(
        (f"P{i}" for i in range(6)),
        key=lambda p: hashlib.md5(f"sdj|{p}".encode()).hexdigest(),
    )[:4]
    assert [r.pid for r in out] == want


def test_limit_clamped_to_list_size(spark):
    listing = _listing(spark, [("j", f"P{i}", f"t{i}", i) for i in range(3)])
    seen = _seen(spark, [("j", f"P{i}", f"t{i}") for i in range(3)])
    out = select_generation(listing, seen, limit=50, seed="s")
    assert out.count() == 3  # tools.go:329-331


def test_per_judge_partitioning(spark):
    listing = _listing(
        spark,
        [("a", f"P{i}", f"t{i}", i) for i in range(5)]
        + [("b", f"P{i}", f"t{i}", i) for i in range(5)],
    )
    seen = _seen(spark, [(j, f"P{i}", f"t{i}") for j in "ab" for i in range(5)])
    out = select_generation(listing, seen, limit=2, seed="s")
    counts = {r.judge: r.n for r in out.groupBy("judge").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"a": 2, "b": 2}


def test_subpartitioned_selection_equivalent(spark):
    """The at-scale (judge, bucket) pre-pruned window must produce the
    IDENTICAL batch — same rows, same crawl_seq — as the plain per-judge
    window, across mixes of due and fill rows and multiple judges."""
    listing = _listing(
        spark,
        [(j, f"P{i}", f"t{i}", i) for j in "abc" for i in range(40)],
    )
    # judge a: half seen-changed (due); b: all seen (pure fill); c: all new
    seen = _seen(
        spark,
        [("a", f"P{i}", f"t{i}" if i % 2 else "CHANGED", ) for i in range(40)]
        + [("b", f"P{i}", f"t{i}") for i in range(40)],
    )
    for limit in (3, 17, 100):
        base = {
            (r.judge, r.pid): (r.crawl_seq, r.is_due)
            for r in select_generation(listing, seen, limit, seed="eq").collect()
        }
        for b in (2, 8, 64):
            sub = {
                (r.judge, r.pid): (r.crawl_seq, r.is_due)
                for r in select_generation(
                    listing, seen, limit, seed="eq", subpartitions=b
                ).collect()
            }
            assert sub == base, (limit, b)


def test_host_concentration_matches_python_reference(spark):
    """The skew audit replays exactly in Python: a 50%-hot-host frontier
    reports the hot host, its ppm share, and the integer HHI bit-for-bit;
    a uniform frontier reports HHI ~ 10^6 / n_hosts."""
    from crawler_spark.operators.frontier import host_concentration

    rows = [(f"u{i}", "hot.test" if i % 2 == 0 else f"h{i % 7}.test")
            for i in range(1400)]
    df = spark.createDataFrame(rows, "url string, host string")
    got = host_concentration(df).collect()[0]

    from collections import Counter

    c = Counter(h for _, h in rows)
    total = sum(c.values())
    shares = {h: (1_000_000 * n) // total for h, n in c.items()}
    max_n = max(c.values())
    assert got.n_hosts == len(c)
    assert got.n_urls == total
    assert got.max_share_ppm == max(shares.values())
    assert got.hhi_e6 == sum(s * s for s in shares.values()) // 1_000_000
    assert got.hot_host == min(h for h, n in c.items() if n == max_n)
    assert got.max_share_ppm == 500_000 and got.hot_host == "hot.test"

    uni = spark.createDataFrame(
        [(f"u{i}", f"h{i % 100}.test") for i in range(1000)],
        "url string, host string",
    )
    u = host_concentration(uni).collect()[0]
    assert u.n_hosts == 100 and u.max_share_ppm == 10_000
    assert u.hhi_e6 == (100 * 10_000 * 10_000) // 1_000_000  # uniform floor
