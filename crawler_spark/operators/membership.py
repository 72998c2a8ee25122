"""URL-seen membership — SURVEY §2.3 J1, §2.4 A5.

The reference's seen-set is a driver-local ``map[pid]title``
(/root/reference/plugin/public/tools.go:405-414) probed inline at
tools.go:339,380. At 10^10-URL scale the seen set is a distributed table, so
membership is:

1. in the Arrow frontier's per-bucket stage (operators/arrow_frontier.py), a
   partition-local **bloom prefilter** (:class:`NumpyBloom`) whose positives
   are verified exactly there — bloom has no false negatives;
2. on the DataFrame path, an exact **changed-title join**
   (:func:`due_or_changed`; :func:`exact_anti_join` is its not-seen half,
   which the Arrow dequeue's tests compare against) — exactly the
   reference's semantics.

Scale notes: the anti-join shuffles both sides on ``url_hash`` — with AQE on,
skewed buckets split automatically.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_anti_join(candidates: DataFrame, seen: DataFrame, key: str) -> DataFrame:
    """Rows of ``candidates`` whose ``key`` is not in ``seen`` (J1 not-seen half)."""
    return candidates.join(seen.select(key).distinct(), on=key, how="left_anti")


def due_or_changed(
    listing: DataFrame,
    seen: DataFrame,
    keys: list[str] | None = None,
    compare: str = "title",
    version: str | None = None,
) -> DataFrame:
    """J1 — the reference's due predicate (tools.go:339): a row is due iff
    its key is NOT in the seen set OR its ``compare`` column changed.

    Returns ``listing`` + boolean ``is_due``. The seen side is aggregated to
    one row per key first so the join can't fan out; Catalyst broadcasts it
    when small, sort-merge joins otherwise.

    True last-wins over a seen set that may carry duplicate keys needs an
    ordering column: pass ``version`` (e.g. generation / updated_at) and the
    highest-version row's ``compare`` wins via ``max_by`` over the TOTAL
    key ``struct(version, compare)`` — two rows tied on version resolve to
    the max ``compare``, so the result never depends on partition order
    (``max_by`` on version alone would still flap on a version tie, the
    failure mode this parameter exists to remove).  Without
    ``version`` the aggregate is ``max(compare)``: on a key-unique snapshot
    (the A5 upsert invariant, which every snapshot written by this engine
    satisfies) that IS the row's value, and on an unexpectedly duplicated key
    it stays deterministic run-to-run instead of flapping with scheduling.
    """
    keys = keys or ["judge", "pid"]
    chosen = (
        F.expr(f"max_by({compare}, struct({version}, {compare}))")
        if version is not None
        else F.max(compare)
    )
    seen_kv = seen.groupBy(*keys).agg(chosen.alias("__seen_cmp"))
    joined = listing.join(seen_kv, on=keys, how="left")
    is_due = F.col("__seen_cmp").isNull() | (F.col("__seen_cmp") != F.col(compare))
    return joined.withColumn("is_due", is_due).drop("__seen_cmp")


def _num_bits(n: int, fpp: float) -> int:
    return max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))


# ---------------------------------------------------------------------------
# numpy bloom — partition-local membership inside pandas UDF stages
# (the in-generation / per-bucket path where a DataFrame join is overkill).
# ---------------------------------------------------------------------------


class NumpyBloom:
    """Vectorized bloom filter over int64 keys (no per-row Python).

    k hash functions derived from the 64-bit key by splitting + affine
    remixing — standard double-hashing construction (h1 + i*h2 mod m).
    """

    def __init__(self, capacity: int, fpp: float = 0.01):
        self.m = _num_bits(max(capacity, 1), fpp)
        self.k = max(1, int(round(self.m / max(capacity, 1) * math.log(2))))
        self.bits = np.zeros((self.m + 63) // 64, dtype=np.uint64)

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        k64 = keys.astype(np.uint64)
        h1 = (k64 ^ (k64 >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
        h2 = (k64 >> np.uint64(13)) * np.uint64(0xC4CEB9FE1A85EC53) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m)).astype(np.int64)

    def add(self, keys: np.ndarray) -> None:
        pos = self._positions(np.asarray(keys, dtype=np.int64)).ravel()
        np.bitwise_or.at(
            self.bits, pos // 64, (np.uint64(1) << (pos % 64).astype(np.uint64))
        )

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        pos = self._positions(np.asarray(keys, dtype=np.int64))
        hit = (
            self.bits[pos // 64] >> (pos % 64).astype(np.uint64) & np.uint64(1)
        ).astype(bool)
        return hit.all(axis=0)
