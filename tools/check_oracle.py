"""Self-check harness approximating the driver's correctness gate:
run each __spark_entry__.queries() entry in Spark AND its oracle_sql() in
DuckDB at sf0.01, compare row count, column names/types, and an
order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Output types that survive every comparator normalization.  Anything else —
# above all HUGEINT (an uncast sum(CASE…), surfaced by Arrow as
# decimal128(38,0) and stringified "1.0" vs Spark BIGINT's "1") — flips the
# driver's value hash with rows and schema green; that exact bug once kept
# a registry query red for three rounds.  DESCRIBE every oracle and fail
# locally on any non-portable output column so the class can never reach
# the driver again.
PORTABLE_DUCK_TYPES = {"BIGINT", "INTEGER", "VARCHAR", "DOUBLE", "BOOLEAN", "BLOB"}


def type_guard(con, oracles: dict[str, str]) -> list[tuple[str, str]]:
    """DESCRIBE each oracle; return (query, problem) per non-portable column."""
    bad: list[tuple[str, str]] = []
    for name, sql in oracles.items():
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as ex:  # noqa: BLE001
            bad.append((name, f"DESCRIBE failed: {ex}"))
            continue
        for col, typ, *_rest in desc:
            base = typ.split("(", 1)[0].strip().upper()
            if base not in PORTABLE_DUCK_TYPES:
                bad.append(
                    (name, f"column {col!r} has non-portable DuckDB type {typ}")
                )
    return bad


def norm_cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from crawler_spark.session import get_spark

    spark = get_spark("check_oracle", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = E.queries(), E.oracle_sql()
    failed, passed, weak = [], [], []
    for name, problem in type_guard(
        con, {k: v for k, v in oracles.items() if not only or k in only}
    ):
        failed.append((name, f"TYPE GUARD: {problem}"))
        print(f"FAIL  {name}: type guard: {problem}")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            failed.append((name, f"SPARK ERROR {type(ex).__name__}: {ex}"))
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        if name not in oracles:
            weak.append(name)
            print(f"weak  {name}: rows={len(s_rows)} (no oracle)  {time.time()-t0:.1f}s")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [c[0] for c in res.description]
            d_rows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            failed.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if not problems:
            sh, dh = value_hash(s_cols, s_rows), value_hash(d_cols, d_rows)
            if sh != dh:
                problems.append("value-hash mismatch")
                # show a sample diff
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                ls = sorted("\x01".join(norm_cell(r[i]) for i in order_s) for r in s_rows)
                ld = sorted("\x01".join(norm_cell(r[i]) for i in order_d) for r in d_rows)
                for a, b in zip(ls, ld):
                    if a != b:
                        problems.append(f"  spark: {a[:300]!r}")
                        problems.append(f"  duck : {b[:300]!r}")
                        break
        if problems:
            failed.append((name, "; ".join(problems[:1])))
            print(f"FAIL  {name}: " + "\n".join(problems))
        else:
            passed.append(name)
            print(f"ok    {name}: rows={len(s_rows)}  {time.time()-t0:.1f}s")

    print(f"\n{len(passed)} ok, {len(weak)} weak (rows-only), {len(failed)} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
