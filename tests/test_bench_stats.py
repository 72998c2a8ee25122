"""Pin the bench measurement policy's statistics (BENCH/BASELINE.md,
round-5 final): per-level medians, the variance guard, and the property
that motivated the paired per-pass ratio — a weather drift that slows
BOTH levels of a pass by the same factor cancels in that pass's ratio,
while it biases a pooled per-level median when the schedule order is
fixed.

Pure-Python: imports bench.py but never starts a SparkSession."""

import importlib.util
import pathlib

spec = importlib.util.spec_from_file_location(
    "bench", pathlib.Path(__file__).resolve().parents[1] / "bench.py"
)
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)


def test_median_even_and_odd():
    assert bench._median([3.0, 1.0, 2.0]) == 2.0
    assert bench._median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert bench._median([7.0]) == 7.0


def test_level_stats_variance_guard():
    quiet = bench._level_stats([10.0, 11.0, 10.5])
    assert quiet["noisy"] is False
    assert quiet["median_wall_s"] == 10.5
    stolen = bench._level_stats([10.0, 11.0, 30.0])  # spread 3.0 > 2.5
    assert stolen["noisy"] is True
    # the guard flags, the median still reports the central wall
    assert stolen["median_wall_s"] == 11.0


def _paired_eff(pass_walls):
    """The exact per-pass formula bench.main uses."""
    return [w1 / (4 * w4) for (w1, w4) in pass_walls]


def test_paired_ratio_cancels_common_pass_weather():
    """True efficiency 1.0 (w1 = 4·w4 in every weather window).  A steal
    phase multiplies EVERYTHING in pass 3 by 2×: the paired ratio of that
    pass is still exactly 1.0, so the median of paired ratios reads the
    true number."""
    passes = [(80.0, 20.0), (80.0, 20.0), (160.0, 40.0)]
    effs = _paired_eff(passes)
    assert all(abs(e - 1.0) < 1e-9 for e in effs)
    assert bench._median(effs) == 1.0


def test_pooled_median_is_biased_by_fixed_order_drift():
    """The failure mode the round-5 policy fixes: under a monotonic drift
    with a FIXED order (1× always before 4×), the 4× level samples
    systematically later (slower) weather.  The pooled per-level median
    then under-reads a true-1.0 efficiency, while the paired-per-pass
    median stays exact because each pass's two levels share its window."""
    # drift: weather multiplier grows 1.0 → 2.0 over six slots; fixed
    # order puts 1× in slots 0,2,4 and 4× in slots 1,3,5
    drift = [1.0, 1.2, 1.4, 1.6, 1.8, 2.0]
    w1 = [80.0 * drift[i] for i in (0, 2, 4)]
    w4 = [20.0 * drift[i] for i in (1, 3, 5)]
    pooled = bench._median(w1) / (4 * bench._median(w4))
    assert pooled < 0.93  # biased low despite true efficiency 1.0
    # paired with ALTERNATING order: pass p uses adjacent slots (2p, 2p+1),
    # order flipping per pass, so the drift splits evenly across terms
    paired = []
    for p in range(3):
        a, b = drift[2 * p], drift[2 * p + 1]
        m1, m4 = (a, b) if p % 2 == 0 else (b, a)
        paired.append((80.0 * m1) / (4 * 20.0 * m4))
    assert abs(bench._median(paired) - 1.0) < 0.1  # drift-robust


def test_variance_spread_max_unchanged():
    # the guard threshold is part of the declared policy
    assert bench.VARIANCE_SPREAD_MAX == 2.5


def test_bench_queries_are_registered():
    # run_queries looks every name up in the registry; a deleted query must
    # fail here, not vanish from the bench slice
    import __spark_entry__ as E

    registered = E.queries()
    assert [n for n in bench.BENCH_QUERIES if n not in registered] == []
