"""Append-table compaction — the small-file problem (Iceberg
rewrite_data_files / expire_snapshots analog in ParquetWarehouse).

Every crawl generation appends shuffle.partitions-many files; a long-running
store's union scan then opens millions of tiny files.  Compaction must
rewrite history into few files WITHOUT changing any read result, keep time
travel before the bound until expiry, and compose with further appends and
re-compaction.
"""

from __future__ import annotations

from crawler_spark.sources.warehouse import ParquetWarehouse


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _stage_gen(spark, wh, g: int, n: int = 50):
    df = (
        spark.range(g * 1000, g * 1000 + n)
        .selectExpr("id", "CAST(id % 7 AS STRING) AS v")
        .repartition(4)
    )
    wh.stage_append("problems", df, g)
    wh.commit(g)


def test_compaction_preserves_reads_and_shrinks_files(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path), spark)
    for g in range(3):
        _stage_gen(spark, wh, g)
    before_all = _rows(wh.read_appends("problems"))
    before_g0 = _rows(wh.read_appends("problems", as_of_generation=0))

    m = wh.compact_appends("problems", target_file_bytes=1 << 30)
    assert m["files_before"] == 12 and m["files_after"] == 1
    assert m["through"] == 2

    # identical current view through one file
    assert _rows(wh.read_appends("problems")) == before_all
    # time travel BEFORE the bound still served by the kept gen dirs
    assert _rows(wh.read_appends("problems", as_of_generation=0)) == before_g0
    # time travel AT the bound uses the rewrite
    assert _rows(wh.read_appends("problems", as_of_generation=2)) == before_all


def test_compaction_composes_with_later_appends_and_recompaction(
    spark, tmp_path
):
    wh = ParquetWarehouse(str(tmp_path), spark)
    for g in range(2):
        _stage_gen(spark, wh, g)
    wh.compact_appends("problems", target_file_bytes=1 << 30)

    # appends after the bound union on top of the rewrite
    _stage_gen(spark, wh, 2)
    all3 = _rows(wh.read_appends("problems"))
    assert len(all3) == 150

    # re-compaction folds the rewrite + the new generation
    m2 = wh.compact_appends("problems", target_file_bytes=1 << 30)
    assert m2["through"] == 2 and m2["files_after"] == 1
    assert _rows(wh.read_appends("problems")) == all3


def test_expire_reclaims_superseded_dirs(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path), spark)
    for g in range(3):
        _stage_gen(spark, wh, g)
    current = _rows(wh.read_appends("problems"))
    wh.compact_appends("problems", target_file_bytes=1 << 30)
    removed = wh.expire_compacted("problems")
    assert removed == 3  # the three superseded gen dirs
    assert not list((tmp_path / "problems").glob("gen=*"))
    # current reads unaffected; only pre-bound time travel is gone
    assert _rows(wh.read_appends("problems")) == current


def test_marker_with_zorder_key_still_loads(spark, tmp_path):
    """Markers written while compaction still offered z-ordering carry a
    ``zorder_by`` key; reads and re-compaction must accept them."""
    import json

    wh = ParquetWarehouse(str(tmp_path), spark)
    for g in range(2):
        _stage_gen(spark, wh, g)
    current = _rows(wh.read_appends("problems"))
    wh.compact_appends("problems", target_file_bytes=1 << 30)
    marker = tmp_path / "problems" / "_compaction.json"
    old = dict(json.loads(marker.read_text()), zorder_by=None)
    marker.write_text(json.dumps(old))
    assert _rows(wh.read_appends("problems")) == current
    m = wh.compact_appends("problems", target_file_bytes=1 << 30)
    assert "zorder_by" not in json.loads(marker.read_text())
    assert m["through"] == 1
    assert _rows(wh.read_appends("problems")) == current


def test_sorted_compaction_disjoint_file_ranges(spark, tmp_path):
    """sort_by compaction must produce files holding disjoint key ranges
    (parquet footer min/max prove file-level skipping) and preserve reads."""
    import pyarrow.parquet as pq

    wh = ParquetWarehouse(str(tmp_path), spark)
    for g in range(3):
        df = (
            spark.range(2000)
            .selectExpr(
                f"CAST(pmod(hash(id + {g * 7919}), 100000) AS BIGINT) AS id",
                "CAST(id % 7 AS STRING) AS v",
            )
            .repartition(4)
        )
        wh.stage_append("problems", df, g)
        wh.commit(g)
    before = _rows(wh.read_appends("problems"))
    m = wh.compact_appends(
        "problems", target_file_bytes=12 << 10, sort_by=["id"]
    )
    assert m["files_after"] >= 3
    assert _rows(wh.read_appends("problems")) == before

    ranges = []
    for f in sorted((tmp_path / "problems" / m["dir"]).glob("part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("id")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 3
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "sorted compaction produced overlapping files"


def test_unpublished_compaction_is_invisible(spark, tmp_path):
    """Crash before _compaction.json lands (W4/W5 for compaction): a
    leftover staging dir must not change any read, and re-running
    compaction restages cleanly."""
    wh = ParquetWarehouse(str(tmp_path), spark)
    for g in range(2):
        _stage_gen(spark, wh, g)
    before = _rows(wh.read_appends("problems"))
    # simulate the crash: data rewritten but the marker never published
    df = wh.read_appends("problems")
    (tmp_path / "problems" / ".compact_tmp").mkdir()
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "problems" / ".compact_tmp")
    )
    assert _rows(wh.read_appends("problems")) == before
    m = wh.compact_appends("problems", target_file_bytes=1 << 30)
    assert m["files_after"] == 1
    assert _rows(wh.read_appends("problems")) == before


def test_recompaction_same_bound_never_deletes_published_dir(
    spark, tmp_path
):
    """Re-compacting with the SAME through bound must not touch the
    directory the published _compaction.json points at before the marker
    swap: the rewrite lands in a fresh dir, the marker moves atomically,
    and only then is the superseded dir removed."""
    wh = ParquetWarehouse(str(tmp_path / "wh"), spark)
    _stage_gen(spark, wh, 0)
    before = _rows(wh.read_appends("problems"))
    m1 = wh.compact_appends("problems", target_file_bytes=1 << 30)
    m2 = wh.compact_appends("problems", target_file_bytes=1 << 30)
    assert m1["through"] == m2["through"]
    assert m1["dir"] != m2["dir"], "rewrite reused the live directory name"
    # reads stay valid throughout and the superseded dir is gone
    assert _rows(wh.read_appends("problems")) == before
    table_dir = tmp_path / "wh" / "problems"
    assert not (table_dir / m1["dir"]).exists()
    assert (table_dir / m2["dir"]).exists()


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    """CDC diff between two committed snapshot generations: added/removed/
    changed keys reported, unchanged keys absent."""
    wh = ParquetWarehouse(str(tmp_path), spark)
    g0 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    g1 = spark.createDataFrame(
        [(2, "b"), (3, "C"), (4, "d")], "id long, v string"
    )
    wh.stage_snapshot("seen", g0, 0)
    wh.commit(0)
    wh.stage_snapshot("seen", g1, 1)
    wh.commit(1)
    diff = {
        r.id: r.change
        for r in wh.snapshot_diff("seen", ["id"], 0, 1).collect()
    }
    assert diff == {1: "removed", 3: "changed", 4: "added"}
    # self-diff is empty
    assert wh.snapshot_diff("seen", ["id"], 1, 1).count() == 0


def test_snapshot_diff_ignores_bookkeeping_columns(spark, tmp_path):
    """ignore_cols drops always-churning stamps from the change
    fingerprint: a row whose only difference is the stamp is NOT
    reported."""
    wh = ParquetWarehouse(str(tmp_path), spark)
    g0 = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0)], "id long, v string, gen int"
    )
    g1 = spark.createDataFrame(
        [(1, "a", 1), (2, "B", 1)], "id long, v string, gen int"
    )
    wh.stage_snapshot("seen", g0, 0)
    wh.commit(0)
    wh.stage_snapshot("seen", g1, 1)
    wh.commit(1)
    noisy = {
        r.id: r.change for r in wh.snapshot_diff("seen", ["id"], 0, 1).collect()
    }
    assert noisy == {1: "changed", 2: "changed"}
    clean = {
        r.id: r.change
        for r in wh.snapshot_diff(
            "seen", ["id"], 0, 1, ignore_cols=("gen",)
        ).collect()
    }
    assert clean == {2: "changed"}


def test_crash_between_publish_and_expiry_resumes_clean(spark, tmp_path):
    """Crash-window complement to the staging-invisibility test
    (VERDICT-r4 #7): a compaction is PUBLISHED (_compaction.json swapped)
    but the process dies before — or midway through — expire_compacted.
    A fresh warehouse instance ("resume") must serve byte-identical reads,
    and expiry must be idempotent from any interruption point."""
    import shutil

    wh = ParquetWarehouse(str(tmp_path), spark)
    for g in range(3):
        _stage_gen(spark, wh, g)
    current = _rows(wh.read_appends("problems"))
    wh.compact_appends("problems", target_file_bytes=1 << 30)
    # -- crash #1: published, expiry never ran.  Resume on a fresh handle.
    wh2 = ParquetWarehouse(str(tmp_path), spark)
    assert _rows(wh2.read_appends("problems")) == current
    # time travel before the bound still works (gen dirs intact)
    assert len(_rows(wh2.read_appends("problems", as_of_generation=0))) == 50

    # -- crash #2: expiry died after deleting ONE superseded gen dir.
    shutil.rmtree(tmp_path / "problems" / "gen=1")
    wh3 = ParquetWarehouse(str(tmp_path), spark)
    # current view is served by the compaction, not the gen dirs
    assert _rows(wh3.read_appends("problems")) == current
    # resume completes the expiry: the two remaining dirs go
    assert wh3.expire_compacted("problems") == 2
    assert not list((tmp_path / "problems").glob("gen=*"))
    assert _rows(wh3.read_appends("problems")) == current
    # idempotent: a second expiry (re-crash + re-resume) removes nothing
    assert wh3.expire_compacted("problems") == 0
    assert ParquetWarehouse(str(tmp_path), spark).expire_compacted(
        "problems"
    ) == 0
    assert _rows(wh3.read_appends("problems")) == current
