"""Driver-contract invariants for __spark_entry__.

The grading driver verifies only the FIRST ``DRIVER_CHECK_WINDOW`` entries
of ``queries()`` against the DuckDB oracle; everything past the window gets
no correctness row at all.  Round 2 lost three previously-green queries to
silent displacement when the registry grew — these tests make that class of
regression loud.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as E  # noqa: E402


def test_registry_fits_driver_window():
    """Every query must sit inside the driver's checked window."""
    assert len(E.queries()) <= E.DRIVER_CHECK_WINDOW, (
        "registry outgrew the driver's checked window"
    )


def test_queries_and_oracle_keys_align():
    qs, sqls = E.queries(), E.oracle_sql()
    assert set(sqls) <= set(qs)
    # rows-only queries (no oracle) must be a deliberate, short list
    rows_only = set(qs) - set(sqls)
    assert rows_only == set(), f"unexpected oracle-less queries: {rows_only}"


def _round_history() -> dict[str, dict[int, bool]]:
    """Round-indexed hash_match history per query: CORRECTNESS_r{i}.json →
    hist[q][i].  Absent (query, round) pairs mean the query sat outside the
    driver's checked window that round."""
    import json

    files = sorted(Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json"))
    hist: dict[str, dict[int, bool]] = {}
    for i, p in enumerate(files, 1):
        for q, row in json.loads(p.read_text()).items():
            hist.setdefault(q, {})[i] = bool(row.get("hash_match"))
    return hist


def test_unproven_queries_inside_window():
    """Every query that has never been driver-green (including brand-new
    registrations with no history at all) must sit inside the checked
    window so it gets a driver row this round."""
    hist = _round_history()
    checked = set(list(E.queries())[: E.DRIVER_CHECK_WINDOW])
    never_green = {q for q, rounds in hist.items() if not any(rounds.values())}
    never_green |= set(E.queries()) - set(hist)  # brand-new queries
    missing = never_green - checked
    assert not missing, f"never-green queries outside the driver window: {missing}"
