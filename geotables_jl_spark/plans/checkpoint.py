"""Snapshot checkpoints: resumable stages with per-partition lineage.

North-star requirement: "all stages are resumable from Iceberg snapshot
checkpoints with per-partition lineage and row-count metrics logged".
This container has no Iceberg catalog, so snapshots are modeled the way
Iceberg models them — an immutable data directory plus a manifest that
commits it atomically:

- a stage writes parquet to ``<root>/<stage>/data`` with a
  ``_lineage_part`` column (the producing task's partition id, always
  stamped by the write itself — an inherited column is overwritten);
- per-partition row counts, numeric column bounds, schema and input
  fingerprint go into ``<root>/<stage>/_MANIFEST.json``, written AFTER
  the data and moved into place atomically (rename) — a crash mid-write
  leaves no manifest, so the stage simply recomputes on resume (same
  contract as an uncommitted Iceberg snapshot). The previous manifest is
  deleted before the write starts, so a failed recompute cannot leave
  it pointing at an emptied directory;
- the manifest is snapshot METADATA, answered without a Spark job:
  counts and bounds come from the parquet footers the write just left
  (Iceberg's per-file ``record_count`` and lower/upper bounds), the
  schema is the frame's own JSON schema (Iceberg's schema-id), so
  reading a snapshot back never infers a schema;
- resume = if a manifest exists and its fingerprint matches the
  caller's current inputs, read the parquet back under the manifest's
  schema instead of recomputing (snapshot read), else recompute and
  commit a new snapshot.

Swapping the parquet+manifest pair for ``df.writeTo(table)`` +
snapshot-id bookkeeping is a sink change only — the stage API and
lineage/metrics contract stay identical.

Metrics land in ``<root>/metrics.jsonl`` (one line per stage commit /
resume hit) for the run-level observability the north star asks for.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections.abc import Callable, Iterator

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_COL = "_lineage_part"

# numeric types whose parquet min/max statistics convert to exact JSON
# numbers (decimals are left out: JSON would round them)
_BOUNDED_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType)


class Checkpointer:
    def __init__(self, spark: SparkSession, root: str, run_id: str = "run"):
        self.spark = spark
        self.root = os.path.join(root, run_id)
        os.makedirs(self.root, exist_ok=True)

    # -- public API ---------------------------------------------------------

    def stage(self, name: str, fingerprint: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Run (or resume) one stage.

        ``fingerprint`` identifies the stage's logical inputs (upstream
        snapshot ids, parameters, code version); a committed snapshot
        with the same fingerprint is reused without recompute. Neither
        branch launches a Spark job beyond the stage's own write.
        """
        manifest = self._manifest_path(name)
        data_dir = os.path.join(self.root, name, "data")
        existing = self._read_manifest(manifest)
        if existing is not None and existing.get("fingerprint") == fingerprint:
            self._log(name, "resume_hit", existing)
            return self.spark.read.schema(_schema(existing)).parquet(data_dir)

        t0 = time.time()
        df = build().withColumn(LINEAGE_COL, F.spark_partition_id())
        self.invalidate(name)  # overwrite empties data/ even when the write then fails
        df.write.mode("overwrite").parquet(data_dir)

        out = self.spark.read.schema(df.schema).parquet(data_dir)
        bounded = [f.name for f in out.schema.fields if isinstance(f.dataType, _BOUNDED_TYPES)]
        part_counts, bounds = footer_stats(data_dir, bounded)
        meta = {
            "stage": name,
            "fingerprint": fingerprint,
            "rows": int(sum(part_counts.values())),
            "partitions": len(part_counts),
            "partition_rows": part_counts,
            "bounds": bounds,
            "schema": out.schema.json(),
            "wall_sec": round(time.time() - t0, 3),
            "committed_at": time.time(),
        }
        self._commit_manifest(manifest, meta)
        self._log(name, "commit", meta)
        return out

    def invalidate(self, name: str) -> None:
        m = self._manifest_path(name)
        if os.path.exists(m):
            os.remove(m)

    def manifest(self, name: str) -> dict | None:
        return self._read_manifest(self._manifest_path(name))

    # -- internals ----------------------------------------------------------

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.root, name, "_MANIFEST.json")

    @staticmethod
    def _read_manifest(path: str) -> dict | None:
        if not os.path.exists(path):
            return None
        try:
            with open(path) as f:
                meta = json.load(f)
            _schema(meta)
            return meta
        except (OSError, ValueError, TypeError, KeyError, AttributeError):
            return None  # torn manifest (or schema) == uncommitted snapshot

    @staticmethod
    def _commit_manifest(path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, path)  # atomic commit

    def _log(self, name: str, event: str, meta: dict) -> None:
        line = {
            "ts": time.time(),
            "stage": name,
            "event": event,
            "rows": meta.get("rows"),
            "partitions": meta.get("partitions"),
        }
        with open(os.path.join(self.root, "metrics.jsonl"), "a") as f:
            f.write(json.dumps(line) + "\n")


def _schema(meta: dict) -> T.StructType:
    """The snapshot schema a manifest pins (``StructType.json()``)."""
    return T.StructType.fromJson(json.loads(meta["schema"]))


def footer_stats(data_dir: str, bounded: list[str]) -> tuple[dict[str, int], dict[str, list]]:
    """Per-partition row counts and column bounds of a snapshot, read from
    the parquet footers of ``data_dir/*.parquet`` (no Spark job, no data
    page read in the common case).

    A row group's partition is its ``LINEAGE_COL`` min, which equals its
    max because every write task stamps its own id. A row group without
    that statistic, or with min != max, is counted by reading just that
    column of just that row group. ``bounded`` names top-level numeric
    columns; each gets ``[min, max]`` over all row groups, and is left
    out if any non-empty row group lacks min/max or has a NaN bound.
    """
    part_rows: dict[str, int] = {}
    bounds: dict[str, list] = {}
    unbounded: set[str] = set()
    paths = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    for path, i, rows, rg_bounds in row_group_bounds(paths, [LINEAGE_COL, *bounded]):
        lin = rg_bounds[LINEAGE_COL]
        if lin is not None and lin[0] == lin[1]:
            key = str(lin[0])
            part_rows[key] = part_rows.get(key, 0) + rows
        else:
            with pq.ParquetFile(path) as pf:
                col = pf.read_row_group(i, columns=[LINEAGE_COL])[LINEAGE_COL]
            for vc in pc.value_counts(col).to_pylist():
                key = str(vc["values"])
                part_rows[key] = part_rows.get(key, 0) + vc["counts"]
        for c in bounded:
            b = rg_bounds[c]
            if b is None:
                unbounded.add(c)
            elif c in bounds:
                bounds[c] = [min(bounds[c][0], b[0]), max(bounds[c][1], b[1])]
            else:
                bounds[c] = list(b)
    return part_rows, {c: b for c, b in bounds.items() if c not in unbounded}


def row_group_bounds(paths: list[str], columns: list[str]) -> Iterator[tuple[str, int, int, dict]]:
    """``(path, index, rows, bounds)`` of every non-empty row group of the
    parquet files at ``paths``, from their footers alone. ``bounds[c]``
    is the footer's ``(min, max)`` of top-level column ``c``, or None
    where the row group has no such column, no min/max for it that
    pyarrow converts, or a NaN bound: Spark's writer records NaN as the
    max, so a NaN bound says nothing about the other values. (pyarrow's
    writer leaves NaN out of min/max instead, and an all-NaN chunk has
    none.) This is the one footer reader behind snapshot manifests and
    metadata-planned joins: per-file row counts and column bounds, as
    Iceberg keeps them in ``record_count`` and
    ``lower_bounds``/``upper_bounds``."""
    for path in paths:
        md = pq.read_metadata(path)
        pos = {md.schema.column(j).path: j for j in range(md.num_columns)}
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.num_rows == 0:
                continue
            yield path, i, rg.num_rows, {c: _min_max(rg, pos.get(c)) for c in columns}


def _min_max(rg, j: int | None) -> tuple | None:
    s = rg.column(j).statistics if j is not None else None
    if s is None or not s.has_min_max:
        return None
    try:
        lo, hi = s.min, s.max
    except NotImplementedError:  # pyarrow converts no decimal statistics
        return None
    return (lo, hi) if lo == lo and hi == hi else None  # v == v is false only for NaN
