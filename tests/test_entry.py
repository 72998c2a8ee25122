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
    """Every non-deferred query must sit inside the driver's checked window;
    growing the registry past window+len(DEFER_TO_TAIL) requires explicitly
    deferring more long-stable rows."""
    names = list(E.queries())
    assert len(names) - len(E.DEFER_TO_TAIL) <= E.DRIVER_CHECK_WINDOW, (
        "registry outgrew the driver's checked window — extend DEFER_TO_TAIL "
        "with long-stable (multi-round hash-green) rows before adding queries"
    )
    if len(names) > E.DRIVER_CHECK_WINDOW:
        assert len(names) - len(E.DEFER_TO_TAIL) == E.DRIVER_CHECK_WINDOW, (
            "driver window not full — move deferred rows back into it"
        )
    checked = set(names[: E.DRIVER_CHECK_WINDOW])
    for deferred in E.DEFER_TO_TAIL:
        assert deferred in names, f"DEFER_TO_TAIL names unknown query {deferred}"
    # the deferred rows are exactly the ones outside the window
    outside = [n for n in names[E.DRIVER_CHECK_WINDOW:]]
    assert set(outside) <= set(E.DEFER_TO_TAIL)


def test_queries_and_oracle_keys_align():
    qs, sqls = E.queries(), E.oracle_sql()
    assert set(sqls) <= set(qs)
    # rows-only queries (no oracle) must be a deliberate, short list
    rows_only = set(qs) - set(sqls)
    assert rows_only == set(), f"unexpected oracle-less queries: {rows_only}"


def _round_history() -> tuple[int, dict[str, dict[int, bool]]]:
    """Round-indexed hash_match history per query: CORRECTNESS_r{i}.json →
    hist[q][i].  Absent (query, round) pairs mean the query sat outside the
    driver's checked window that round."""
    import json

    files = sorted(Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json"))
    hist: dict[str, dict[int, bool]] = {}
    for i, p in enumerate(files, 1):
        for q, row in json.loads(p.read_text()).items():
            hist.setdefault(q, {})[i] = bool(row.get("hash_match"))
    return len(files), hist


def test_deferred_rows_are_long_stable():
    """Rotation invariant: a query may be deferred past the driver window
    only if it already holds >=2 hash-green driver rows — nothing unproven
    ever leaves the checked window."""
    _n, hist = _round_history()
    for q in E.DEFER_TO_TAIL:
        greens = sum(hist.get(q, {}).values())
        assert greens >= 2, (
            f"{q} deferred with only {greens} green driver rounds — "
            "defer only multi-round hash-green rows"
        )


def _check_staleness(n: int, hist: dict[str, dict[int, bool]]) -> None:
    """MAX-staleness invariant (K=2, VERDICT-r4 #6): a deferred query must
    hold a hash-green driver row within the last two driver rounds
    recorded WHEN THE ROTATION WAS AUTHORED (E.ROTATION_AS_OF) — i.e. a
    row may skip at most one round of driver verification before it has
    to rotate back into the checked window.  Anchoring at authoring time
    keeps the invariant data-driven without letting the grading driver's
    own r{N+1} file (written into the repo after the rotation is frozen)
    retro-invalidate a decision that could only use r1..r{N} data; the
    companion assertion below caps that lag at the one in-flight round,
    so the rotation can never be pinned against stale history."""
    as_of = E.ROTATION_AS_OF
    assert as_of >= n - 1, (
        f"ROTATION_AS_OF={as_of} but {n} driver rounds are recorded — "
        "re-author DEFER_TO_TAIL against the newest correctness data"
    )
    last_two = {min(as_of, n), min(as_of, n) - 1}
    for q in E.DEFER_TO_TAIL:
        rounds_green = {r for r, ok in hist.get(q, {}).items() if ok}
        assert rounds_green & last_two, (
            f"{q} deferred but its newest green driver round is "
            f"{max(rounds_green, default=None)} of {n} recorded "
            f"(rotation as of {as_of}) — staleness exceeds K=2; rotate it "
            "back into the checked window"
        )


def test_deferred_staleness_bounded():
    _check_staleness(*_round_history())


def test_deferred_staleness_survives_next_round_file():
    """The next driver round's correctness file lands in the repo after the
    rotation is frozen; its arrival alone must not fail the invariant."""
    n, hist = _round_history()
    _check_staleness(n + 1, hist)


def test_unproven_queries_inside_window():
    """Every query that has never been driver-green (including brand-new
    registrations with no history at all) must sit inside the checked
    window so it gets a driver row this round."""
    _n, hist = _round_history()
    checked = set(list(E.queries())[: E.DRIVER_CHECK_WINDOW])
    never_green = {q for q, rounds in hist.items() if not any(rounds.values())}
    never_green |= set(E.queries()) - set(hist)  # brand-new queries
    missing = never_green - checked
    assert not missing, f"never-green queries outside the driver window: {missing}"
