"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, schema
(loosely), and values (sorted columns by name, sorted rows, exact for
ints/strings, bit-exact for doubles with a report of max |diff| when
not). Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

# this checkout's root, so a second checkout gates its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from geotables_jl_spark.session import get_spark

    spark = get_spark("oracle-check")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = [tuple(r[c] for c in scols) for r in sdf.collect()]
            srows.sort(key=_key)
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"PASS {name}: rows-only (no oracle), {len(srows)} rows")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols_raw = rel.columns
            orows_raw = rel.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        order = sorted(range(len(ocols_raw)), key=lambda i: ocols_raw[i])
        ocols = [ocols_raw[i] for i in order]
        orows = [tuple(row[i] for i in order) for row in orows_raw]
        orows.sort(key=_key)

        if scols != ocols:
            print(f"FAIL {name}: columns {scols} vs {ocols}")
            failures.append(name)
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(orows)}")
            failures.append(name)
            continue
        bad, maxdiff = _compare(srows, orows)
        if bad is None:
            # Driver-parity dtype check (r2 lesson: the driver hashes
            # pandas REPRESENTATIONS, so DuckDB HUGEINT→float64 vs Spark
            # BIGINT→int64 is a hash mismatch even when values are
            # bit-identical — geojoin_tiles_inner went red that way).
            kind_bad = _dtype_kinds_mismatch(sdf, con, oracles[name], scols)
            if kind_bad:
                print(f"FAIL {name}: pandas dtype-kind mismatch {kind_bad} (values equal — driver would hash-mismatch)")
                failures.append(name)
                continue
            print(f"PASS {name}: {len(srows)} rows, maxfloatdiff={maxdiff:.2e}")
        else:
            print(f"FAIL {name}: first mismatch at row {bad}:")
            print(f"  spark : {srows[bad]}")
            print(f"  duckdb: {orows[bad]}")
            failures.append(name)

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("ALL MATCH")
    return 0


def _dtype_kinds_mismatch(sdf, con, oracle, scols):
    """Compare pandas dtype KINDS (i/f/b/O/M) column-by-column between
    Spark's toPandas() and DuckDB's .df() — the representations the
    driver hashes. Columns that contain nulls are skipped (both engines
    promote nullable ints inconsistently; the value compare already
    covers them)."""
    spdf = sdf.toPandas()
    opdf = con.sql(oracle).df()
    bad = []
    for c in scols:
        if c not in opdf.columns:
            continue
        if spdf[c].isnull().any() or opdf[c].isnull().any():
            continue
        sk, ok = spdf[c].dtype.kind, opdf[c].dtype.kind
        if sk in ("i", "u") and ok in ("i", "u"):
            continue
        if sk != ok:
            bad.append(f"{c}: spark {spdf[c].dtype} vs duckdb {opdf[c].dtype}")
    return bad


def _key(row):
    return tuple(
        (v is None, str(type(v)), str(v) if not isinstance(v, float) else f"{v:.17g}")
        for v in row
    )


def _compare(srows, orows):
    maxdiff = 0.0
    for i, (sr, orr) in enumerate(zip(srows, orows)):
        for sv, ov in zip(sr, orr):
            if sv is None and ov is None:
                continue
            if (sv is None) != (ov is None):
                return i, maxdiff
            if isinstance(sv, float) or isinstance(ov, float):
                if sv == ov:
                    continue
                if math.isnan(sv) and math.isnan(ov):
                    continue
                d = abs(float(sv) - float(ov))
                maxdiff = max(maxdiff, d)
                if d > 0:
                    return i, maxdiff
            elif sv != ov:
                return i, maxdiff
    return None, maxdiff


if __name__ == "__main__":
    raise SystemExit(main())
