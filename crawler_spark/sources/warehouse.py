"""Warehouse — the persistent store (SURVEY §1.4, §2.6 W1-W6).

The reference's store is a git repo with atomic multi-file commits + hard
rollback (/root/reference/main.go:40-98,158-172). The Spark-native
equivalent is an Iceberg catalog (one snapshot per generation); this sandbox
has no Iceberg jars, so the same transactional contract is implemented over
a parquet directory tree:

    <root>/<table>/gen=<g>/part-*.parquet     (data, staged per generation)
    <root>/_commits/<g>.json                  (the transaction marker)

A generation's writes across ALL tables become visible atomically when the
manifest `_commits/<g>.json` lands (os.replace — atomic on POSIX). Readers
only see generations listed in committed manifests, so a crashed run leaves
no partial snapshot (W4/W5: rollback = simply never committing). Resume =
max committed generation (the `GetProblemlist` recovery analog,
main.go:132-153).

`url_seen` is a keyed upsert (A5), stored as per-generation full snapshots
(it is the compacted key set, far smaller than the append tables; a real
deployment MERGEs into Iceberg instead — see `IcebergWarehouse`).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

APPEND_TABLES = ("problems", "images", "fetch_log", "lineage", "listing")
SNAPSHOT_TABLES = ("url_seen", "host_state")


class BucketSpecError(RuntimeError):
    """A bucketed read's (key, buckets) disagrees with — or is missing —
    the persisted ``_bucketspec.json`` of the snapshot being read."""


class ParquetWarehouse:
    def __init__(self, root: str, spark: SparkSession):
        self.root = Path(root)
        self.spark = spark
        (self.root / "_commits").mkdir(parents=True, exist_ok=True)

    # -- transaction protocol ------------------------------------------------

    def stage_append(self, table: str, df: DataFrame, generation: int) -> None:
        """Stage an append for this generation (invisible until commit)."""
        path = self.root / table / f"gen={generation}"
        if path.exists():
            shutil.rmtree(path)  # idempotent restage after a crashed run
        df.write.mode("overwrite").parquet(str(path))

    def stage_snapshot(self, table: str, df: DataFrame, generation: int) -> None:
        """Stage a full-snapshot table version (url_seen / host_state)."""
        self.stage_append(table, df, generation)

    def commit(self, generation: int, metrics: dict | None = None) -> None:
        """Make generation `g` visible atomically (W4)."""
        manifest = {
            "generation": generation,
            "committed_at": time.time(),
            "metrics": metrics or {},
        }
        tmp = self.root / "_commits" / f".{generation}.json.tmp"
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, self.root / "_commits" / f"{generation}.json")

    def rollback_staged(self, generation: int) -> None:
        """Discard staged-but-uncommitted data (W5; normally unnecessary —
        uncommitted generations are invisible anyway)."""
        for table in APPEND_TABLES + SNAPSHOT_TABLES:
            path = self.root / table / f"gen={generation}"
            if path.exists() and not self._is_committed(generation):
                shutil.rmtree(path)

    # -- reads ---------------------------------------------------------------

    def committed_generations(self) -> list[int]:
        return sorted(
            int(p.stem) for p in (self.root / "_commits").glob("*.json")
        )

    def last_generation(self) -> int | None:
        gens = self.committed_generations()
        return gens[-1] if gens else None

    def _is_committed(self, generation: int) -> bool:
        return (self.root / "_commits" / f"{generation}.json").exists()

    def read_appends(
        self, table: str, as_of_generation: int | None = None
    ) -> DataFrame | None:
        """Union of committed generations of an append table.

        ``as_of_generation`` = time travel (Iceberg `VERSION AS OF` parity,
        the reference's "crawl history = commit log" property §1.4): only
        generations ≤ the bound are visible.

        When a compaction exists (:meth:`compact_appends`) and the read is
        at-or-after its ``through`` bound, the compacted rewrite replaces
        the per-generation directories it covers; generations after the
        bound union on top as usual.  Reads strictly BEFORE the bound use
        the original generation directories, which compaction keeps on disk
        until :meth:`expire_compacted` trades that history for storage.
        """
        gens = self.committed_generations()
        if as_of_generation is not None:
            gens = [g for g in gens if g <= as_of_generation]
        comp = self._compaction(table)
        dirs: list[str] = []
        if comp is not None and (
            as_of_generation is None or as_of_generation >= comp["through"]
        ):
            dirs.append(str(self.root / table / comp["dir"]))
            gens = [g for g in gens if g > comp["through"]]
        dirs += [
            str(self.root / table / f"gen={g}")
            for g in gens
            if (self.root / table / f"gen={g}").exists()
        ]
        if not dirs:
            return None
        return self.spark.read.parquet(*dirs)

    # -- compaction (the small-file problem) ---------------------------------

    def _compaction(self, table: str) -> dict | None:
        p = self.root / table / "_compaction.json"
        return json.loads(p.read_text()) if p.exists() else None

    def compact_appends(
        self,
        table: str,
        target_file_bytes: int = 128 << 20,
        through_generation: int | None = None,
        sort_by: list[str] | None = None,
    ) -> dict:
        """Rewrite an append table's committed history into few
        target-sized files — Iceberg's ``rewrite_data_files``.

        Every crawl generation appends ``shuffle.partitions``-many files;
        after 10^4 generations the union scan opens millions of tiny files
        and planning/IO dominates — THE operational failure mode of a
        long-running crawl store.  This rewrites all data ≤
        ``through_generation`` (default: latest committed) into
        ``ceil(bytes/target)`` files under ``<table>/compact=<g>/``, then
        atomically publishes ``_compaction.json`` (os.replace), after which
        readers substitute the rewrite for the covered generations.  The
        original directories stay on disk so time travel BEFORE the bound
        still works; :meth:`expire_compacted` reclaims them.  Idempotent:
        a crash before the json lands leaves readers on the old view, and
        re-running restages.

        Layout strategies (Iceberg's binpack / sort):
        - default: coalesce — a width-only rewrite, NO shuffle;
        - ``sort_by``: range-repartition + sort, so output files hold
          DISJOINT key ranges and parquet footer min/max stats prune scans
          filtered on the sort key (one range shuffle now buys file-level
          skipping on every later read — the right trade for a table read
          thousands of times per rewrite)."""
        import math

        through = (
            self.last_generation()
            if through_generation is None
            else through_generation
        )
        if through is None:
            raise ValueError(f"no committed generations to compact in {table}")
        df = self.read_appends(table, as_of_generation=through)
        if df is None:
            raise ValueError(f"append table {table} has no data to compact")
        src_files = self._data_files(table, through)
        src_bytes = sum(f.stat().st_size for f in src_files)
        n_files = max(1, math.ceil(src_bytes / target_file_bytes))
        if sort_by:
            out = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(
                *sort_by
            )
        else:
            out = df.coalesce(n_files)
        tmp = self.root / table / ".compact_tmp"
        if tmp.exists():
            shutil.rmtree(tmp)
        out.write.mode("overwrite").parquet(str(tmp))
        # Never touch the PUBLISHED directory before the marker swap: a
        # re-compaction with the same `through` bound must not rmtree the
        # dir _compaction.json still points at (a crash between delete and
        # publish would leave every reader on a dangling marker).  Each
        # rewrite gets a fresh dir; the superseded one is removed only
        # AFTER the marker atomically moves off it (and expire_compacted
        # sweeps any stragglers a crash leaves behind).
        prev = self._compaction(table)
        dest = self.root / table / f"compact={through}"
        k = 1
        while dest.exists():
            dest = self.root / table / f"compact={through}.r{k}"
            k += 1
        os.replace(tmp, dest)
        marker = {
            "through": through,
            "dir": dest.name,
            "sort_by": sort_by,
        }
        mtmp = self.root / table / ".compaction.json.tmp"
        mtmp.write_text(json.dumps(marker))
        os.replace(mtmp, self.root / table / "_compaction.json")
        if prev is not None and prev["dir"] != marker["dir"]:
            stale = self.root / table / prev["dir"]
            if stale.exists():
                shutil.rmtree(stale)
        out_files = list(dest.glob("part-*.parquet"))
        return {
            "table": table,
            "through": through,
            "dir": marker["dir"],
            "files_before": len(src_files),
            "files_after": len(out_files),
            "bytes_before": src_bytes,
            "bytes_after": sum(f.stat().st_size for f in out_files),
        }

    def expire_compacted(self, table: str) -> int:
        """Delete the per-generation directories (and stale older rewrites)
        a published compaction supersedes — Iceberg's ``expire_snapshots``.
        Storage is reclaimed; time travel to generations before the
        compaction bound is gone (reads there fall back to whatever data
        remains).  Returns the number of directories removed."""
        comp = self._compaction(table)
        if comp is None:
            return 0
        removed = 0
        for g in self.committed_generations():
            if g > comp["through"]:
                continue
            path = self.root / table / f"gen={g}"
            if path.exists():
                shutil.rmtree(path)
                removed += 1
        for p in (self.root / table).glob("compact=*"):
            if p.name != comp["dir"]:
                shutil.rmtree(p)
                removed += 1
        return removed

    def _data_files(self, table: str, through: int) -> list[Path]:
        """Parquet data files currently serving reads ≤ ``through``."""
        comp = self._compaction(table)
        dirs: list[Path] = []
        gens = [g for g in self.committed_generations() if g <= through]
        if comp is not None and comp["through"] <= through:
            dirs.append(self.root / table / comp["dir"])
            gens = [g for g in gens if g > comp["through"]]
        dirs += [
            self.root / table / f"gen={g}"
            for g in gens
            if (self.root / table / f"gen={g}").exists()
        ]
        return [f for d in dirs for f in d.glob("part-*.parquet")]

    def read_snapshot(
        self, table: str, as_of_generation: int | None = None,
        schema: str | None = None,
    ) -> DataFrame | None:
        """Latest committed snapshot of a snapshot table, optionally as of a
        past generation (time travel).  A known ``schema`` (DDL) spares the
        Spark job that infers it from the parquet footers."""
        for g in reversed(self.committed_generations()):
            if as_of_generation is not None and g > as_of_generation:
                continue
            path = self.root / table / f"gen={g}"
            if path.exists():
                reader = self.spark.read
                if schema is not None:
                    reader = reader.schema(schema)
                return reader.parquet(str(path))
        return None

    def snapshot_diff(
        self,
        table: str,
        key_cols: list[str],
        from_generation: int,
        to_generation: int,
        ignore_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """CDC-style diff between two committed snapshots of a snapshot
        table — the Iceberg changelog / incremental-read analog: one row
        per key that was ``added``, ``removed``, or ``changed`` between the
        generations (unchanged keys are filtered out).  ``ignore_cols``
        excludes bookkeeping columns (e.g. a last-touched generation stamp
        that changes every run) from the change fingerprint.

        Shape: each side reduces to (key, md5 of the canonical non-key
        struct) BEFORE the full-outer join, so only narrow fingerprints
        cross the exchange — never the payload columns; with bucketed
        snapshots on the same key the join co-locates like any seen-join.
        """
        old = self.read_snapshot(table, as_of_generation=from_generation)
        new = self.read_snapshot(table, as_of_generation=to_generation)
        if old is None or new is None:
            raise ValueError(
                f"snapshot_diff: no committed snapshot of {table!r} at or "
                f"before one of generations {from_generation}/{to_generation}"
            )
        others = sorted(
            c for c in new.columns if c not in key_cols and c not in ignore_cols
        )

        def fp(df: DataFrame, name: str) -> DataFrame:
            return df.select(
                *key_cols,
                F.md5(F.to_json(F.struct(*others))).alias(name),
            )

        o, n = fp(old, "__old_fp"), fp(new, "__new_fp")
        joined = o.join(n, key_cols, "full_outer")
        change = (
            F.when(F.col("__old_fp").isNull(), F.lit("added"))
            .when(F.col("__new_fp").isNull(), F.lit("removed"))
            .when(F.col("__old_fp") != F.col("__new_fp"), F.lit("changed"))
        )
        return (
            joined.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(*key_cols, "change")
        )

    def manifest(self, generation: int) -> dict:
        return json.loads((self.root / "_commits" / f"{generation}.json").read_text())

    # -- bucketed (co-located) snapshots ------------------------------------

    def stage_snapshot_bucketed(
        self,
        table: str,
        df: DataFrame,
        generation: int,
        key: str | list[str],
        buckets: int = 128,
    ) -> None:
        """Snapshot variant for the recurring-join tables (url_seen):
        written ``bucketBy(buckets, key)`` + key-sorted, so every later
        equi-join/groupBy on ``key`` reuses the on-disk distribution —
        zero Exchange, zero Sort in the plan (tests/test_bucketed.py).
        Same commit gating as stage_snapshot; on Iceberg this is the
        ``bucket(B, key)`` partition transform instead.

        The bucket spec (key, buckets) is persisted in a ``_bucketspec.json``
        sidecar and is AUTHORITATIVE on read: parquet files don't record
        bucketing, and registering 8-bucket files as a 16-bucket table would
        silently route half the seen-set to the wrong bucket — a wrong-result
        corruption, not a perf bug."""
        from crawler_spark.sources.bucketed import _keys, write_bucketed

        path = self.root / table / f"gen={generation}"
        if path.exists():
            shutil.rmtree(path)
        write_bucketed(
            df, self._bucket_table_name(table, generation), str(path),
            key, buckets,
        )
        (path / "_bucketspec.json").write_text(
            json.dumps({"key": _keys(key), "buckets": buckets})
        )

    def read_snapshot_bucketed(
        self,
        table: str,
        schema_ddl: str,
        key: str | list[str],
        buckets: int = 128,
        as_of_generation: int | None = None,
    ) -> DataFrame | None:
        """Latest committed bucketed snapshot WITH its bucket distribution
        visible to the planner (re-registered on resume — parquet files
        carry no bucketing spec, the catalog does).

        The persisted ``_bucketspec.json`` is validated against the caller's
        (key, buckets): a mismatch raises :class:`BucketSpecError` instead of
        silently mis-registering the layout; a committed snapshot WITHOUT a
        spec (plain-parquet history, e.g. the crawl ran before
        ``--seen-buckets`` was enabled) also raises, and callers that can
        degrade should catch it and fall back to :meth:`read_snapshot`."""
        from crawler_spark.sources.bucketed import _keys, read_bucketed

        for g in reversed(self.committed_generations()):
            if as_of_generation is not None and g > as_of_generation:
                continue
            path = self.root / table / f"gen={g}"
            if path.exists():
                spec_path = path / "_bucketspec.json"
                if not spec_path.exists():
                    raise BucketSpecError(
                        f"{table} gen={g} has no _bucketspec.json — it was "
                        "written as plain parquet; read it with "
                        "read_snapshot() (registering it as bucketed would "
                        "corrupt joins)"
                    )
                spec = json.loads(spec_path.read_text())
                if spec != {"key": _keys(key), "buckets": buckets}:
                    raise BucketSpecError(
                        f"{table} gen={g} was written with bucket spec "
                        f"{spec}, but the read asked for "
                        f"{{'key': {_keys(key)}, 'buckets': {buckets}}} — "
                        "registering a different layout silently routes keys "
                        "to wrong buckets; use the persisted spec"
                    )
                return read_bucketed(
                    self.spark, self._bucket_table_name(table, g),
                    str(path), schema_ddl, key, buckets,
                )
        return None

    def _bucket_table_name(self, table: str, generation: int) -> str:
        # catalog identifiers can't contain '=' or '/'; the root tag
        # disambiguates concurrent warehouses in one session.  crc32, not
        # hash(): PYTHONHASHSEED varies per process and resume must derive
        # the SAME name.
        import zlib

        tag = zlib.crc32(str(self.root).encode()) % 10_000_000
        return f"wh{tag}_{table}_g{generation}"


class IcebergWarehouse:  # pragma: no cover - jars absent in this sandbox
    """Drop-in for a real cluster: same method surface over an Iceberg
    catalog. Appends → `df.writeTo(tbl).append()` inside one snapshot;
    url_seen → `MERGE INTO`; commit/rollback → Iceberg snapshot semantics
    (W4/W5 for free); resume → snapshot log. Requires
    spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog on the
    submit conf.
    """

    def __init__(self, catalog: str, namespace: str, spark: SparkSession):
        raise NotImplementedError(
            "Iceberg jars are not on this sandbox's classpath; "
            "use ParquetWarehouse (identical transactional contract)"
        )
