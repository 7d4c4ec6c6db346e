"""One scaling-run worker: flagship geojoin (intersects) + kNN at a
given parallelism over a pre-materialized page table.

    python tools/scaling_job.py <cpus> <input_dir> [sf_dir]

The input parquet is built once by ``scaling_bench.py`` (same bytes for
every parallelism level — the north rule's "same input"); the timed
section is the JOIN pipeline itself (scan → georef → cell cover →
broadcast/shuffle join → refine → aggregate), matching the metric
"geojoin throughput on an Iceberg table" rather than synthetic-data
generation cost. Prints one JSON line per job.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from geotables_jl_spark.core.geotable import GeoTable, georef, georef_grid
from geotables_jl_spark.operators.geojoin import geojoin, knn_join
from geotables_jl_spark.session import get_spark
from geotables_jl_spark.sources.webpages import extract_geotags, webpages_from_df


def build_input(spark, sf_dir: str, amp: int, out_dir: str) -> None:
    """documents × amp → geotagged page table written as many-split
    parquet (url, lat, lon, row_id) — the stand-in for the Iceberg
    pages table the north star reads."""
    doc = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang", "source")
    doc = doc.repartition(96, "doc_id")
    doc = doc.withColumn("__copy", F.explode(F.sequence(F.lit(0), F.lit(amp - 1))))
    doc = doc.withColumn("doc_id", F.col("doc_id") * amp + F.col("__copy")).drop("__copy")
    pages = extract_geotags(webpages_from_df(doc))
    pages = pages.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
    pages.select("row_id", "url", "lat", "lon").write.mode("overwrite").parquet(out_dir)


def _pages(spark, input_dir: str) -> GeoTable:
    df = spark.read.parquet(input_dir)
    return georef(df, coords=["lat", "lon"])


def run_geojoin(spark, input_dir: str) -> dict:
    pages = _pages(spark, input_dir)
    pages = GeoTable(
        df=pages.df.withColumn("page_id", F.col("row_id")).select("row_id", "page_id", "url", "geometry"),
        crs=pages.crs,
    )
    g = georef_grid(spark, 36, 18, ox=-180.0, oy=-90.0, sx=10.0, sy=10.0)
    tiles = GeoTable(
        df=g.df.select("row_id", F.col("row_id").alias("tile_id"), "geometry"),
        crs="LatLon",
        grid=g.grid,
    )
    n_rows = pages.df.count()
    t0 = time.perf_counter()
    res = geojoin(tiles, pages, aggs={"page_id": "count", "url": "min"}, kind="inner")
    res.df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return {"job": "geojoin_intersects", "rows": n_rows, "sec": round(dt, 3)}


def run_knn(spark, input_dir: str, sf_dir: str) -> dict:
    """kNN of every page against a 100k-point amenity-style directory
    (supplier ×100 with deterministic jitter), k=10 — sized so measured
    compute dominates the fixed per-job costs (stats scans, round
    scheduling) that otherwise cap the 8→32 speedup of a 2-second job."""
    pages = _pages(spark, input_dir)
    pages = GeoTable(df=pages.df.select("row_id", "geometry"), crs=pages.crs)
    supp = georef(_supplier_directory(spark, sf_dir), coords=["lat", "lon"])
    n_rows = pages.df.count()
    t0 = time.perf_counter()
    knn_join(pages, supp, k=10).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return {"job": "geojoin_knn", "rows": n_rows, "sec": round(dt, 3)}


def _supplier_directory(spark, sf_dir: str):
    """100k-point amenity-style directory (supplier ×100, deterministic
    jitter) — shared by the planar and S2 kNN jobs."""
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    supp = supp.withColumn("__copy", F.explode(F.sequence(F.lit(0), F.lit(99))))
    k = F.col("s_suppkey") * 100 + F.col("__copy")
    return (
        supp.withColumn("lon", ((k * 7919) % 3600) / 10.0 - 180.0 + 0.05)
        .withColumn("lat", ((k * 104729) % 1700) / 10.0 - 85.0 + 0.05)
        .withColumn("row_id", k)
        .select("row_id", "lat", "lon")
    )


def run_s2_knn(spark, input_dir: str, sf_dir: str) -> dict:
    """The north rule's mandated kNN shape end-to-end: S2 cell-ring
    expansion with certify-or-escalate. The 100k-point directory picks
    the kernel arm — one narrow map over the page scan with the whole
    expansion inside the Arrow kernel against a broadcast numpy
    directory — so it should scale with cores by construction."""
    from geotables_jl_spark.operators.geojoin_s2 import s2_knn_join, s2_point_prep

    pages = spark.read.parquet(input_dir).select(F.col("row_id").alias("lid"), "lat", "lon")
    left = s2_point_prep(pages, "lid", latlon=("lat", "lon"))
    # supplier.parquet is one file → without this the directory's point
    # prep ahead of the kernel's broadcast build runs as ONE task
    supp = _supplier_directory(spark, sf_dir).withColumnRenamed("row_id", "rid").repartition(64)
    right = s2_point_prep(supp, "rid", latlon=("lat", "lon"))
    n_right = supp.count()
    n_rows = pages.count()
    t0 = time.perf_counter()
    s2_knn_join(
        left, right, k=10, n_right=n_right, n_left=n_rows
    ).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return {"job": "s2_knn", "rows": n_rows, "sec": round(dt, 3)}


def run_asof(spark, input_dir: str) -> dict:
    """As-of join at scale: every page picks up the latest prior
    "config snapshot" of its host — left/right both derived from the
    SAME pre-materialized page table with pure column math (identical
    bytes at every parallelism level). Exercises the operator's one
    shuffle (union on host key) + per-key sorted window pass; snapshots
    are a 1/10 subset so the right side is realistic-sparse."""
    from geotables_jl_spark.operators.asof import asof_join

    pages = spark.read.parquet(input_dir).select("row_id")
    base = pages.select(
        "row_id",
        (F.col("row_id") % 500000).alias("host"),
        ((F.col("row_id") * 9973) % 100000000).alias("ts"),
    )
    left = base
    right = base.filter(F.col("row_id") % 10 == 0).select(
        "host",
        "ts",
        F.col("row_id").alias("snap_id"),
        ((F.col("row_id") * 7) % 1000).alias("cfg"),
    )
    n_rows = left.count()
    t0 = time.perf_counter()
    asof_join(left, right, on=["host"], ts="ts", tie_col="snap_id").write.format(
        "noop"
    ).mode("overwrite").save()
    dt = time.perf_counter() - t0
    return {"job": "asof_join", "rows": n_rows, "sec": round(dt, 3)}


def _synth_docs(spark, input_dir: str):
    """row_id → ~18-word synthetic text from a 64-word vocabulary, every
    10th row collapsed onto a template id so LSH finds real near-dup
    buckets; pure column math — identical bytes at every parallelism."""
    pages = spark.read.parquet(input_dir).select("row_id")
    base = F.when(
        F.col("row_id") % 10 == 0, (F.col("row_id") / 100).cast("long") * 100
    ).otherwise(F.col("row_id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(17)),
        lambda i: F.concat(F.lit("w"), ((base * 31 + i * 7919) % 64).cast("string")),
    )
    return pages.select("row_id", F.concat_ws(" ", words).alias("text"))


def run_dedup_lsh(spark, input_dir: str) -> dict:
    """Webtext-payload flagship: MinHash-LSH near-dup candidate pairs
    (star mode — the dedup_clusters edge feed) over the page table.
    Exercises the full shingle → map-only Arrow MinHash kernel
    (crc32, 64 permutations) → band-bucket window pipeline — one wide
    map stage plus the (band, bucket) exchange."""
    from geotables_jl_spark.operators.dedup import minhash_lsh_pairs

    docs = _synth_docs(spark, input_dir)
    n_rows = docs.count()
    t0 = time.perf_counter()
    minhash_lsh_pairs(
        docs, "row_id", "text", verify=False, pair_mode="star"
    ).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return {"job": "dedup_lsh", "rows": n_rows, "sec": round(dt, 3)}


def run_bloom(spark, input_dir: str) -> dict:
    """Bloom incremental-crawl dedup at 10M corpus keys: one build pass
    (sparse-word shuffle + Arrow driver merge) + a map-only probe of a
    10M-key arrival stream (half known, half new). Keys are pure column
    math over the pre-materialized page table's row_id (×5 explode —
    identical bytes at every parallelism level). Phases are reported
    separately: the probe is the part that must scale like a map (no
    shuffle touches either side); the build carries the bounded
    sparse-word exchange whose row count is capped by m/64 regardless
    of corpus size. ``sec`` (the scaling metric) is build+probe — the
    full daily-crawl cycle."""
    from geotables_jl_spark.operators.bloom import build_bloom, with_bloom_contains

    fan = 5
    pages = spark.read.parquet(input_dir).select("row_id")
    base = pages.withColumn("__j", F.explode(F.sequence(F.lit(0), F.lit(fan - 1)))).select(
        (F.col("row_id") * fan + F.col("__j")).alias("k")
    )
    n = pages.count() * fan
    corpus = base.select(F.concat(F.lit("https://corpus.example/"), F.col("k")).alias("url"))
    # arrivals: even k = already crawled (must all flag True), odd k
    # shifted into a disjoint key space = genuinely new
    arrivals = base.select(
        F.concat(
            F.when(F.col("k") % 2 == 0, F.lit("https://corpus.example/")).otherwise(
                F.lit("https://new.example/")
            ),
            F.col("k"),
        ).alias("url")
    )
    t0 = time.perf_counter()
    bf = build_bloom(corpus, "url", expected_n=n, fpp=0.01)
    t1 = time.perf_counter()
    with_bloom_contains(arrivals, bf, "url").write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return {
        "job": "bloom",
        "rows": n,
        "sec": round(t2 - t0, 3),
        "build_sec": round(t1 - t0, 3),
        "probe_sec": round(t2 - t1, 3),
        "fill_ratio": round(bf.fill_ratio, 4),
    }


def main() -> None:
    cpus = int(sys.argv[1])
    input_dir = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    spark = get_spark(f"scaling-{cpus}", cpus=cpus)
    if input_dir == "--build":
        amp, out = int(sys.argv[3]), sys.argv[4]
        build_input(spark, sys.argv[5] if len(sys.argv) > 5 else "/root/testdata/sf0.1", amp, out)
        return
    # warm-up: JVM/codegen paths on a tiny slice
    warm = _pages(spark, input_dir).df.limit(1000).count()
    assert warm > 0
    # warm the Python worker pool (one per core) so the first measured
    # Arrow stage doesn't pay worker spawn — a long-running cluster
    # keeps pools warm (same rationale as bench.py's warm-up)
    def _noop_batch(it):
        for pdf in it:
            yield pdf

    spark.range(cpus * 4).repartition(cpus).mapInPandas(
        _noop_batch, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    jobs = {
        "geojoin_intersects": (run_geojoin, (spark, input_dir)),
        "geojoin_knn": (run_knn, (spark, input_dir, sf_dir)),
        "s2_knn": (run_s2_knn, (spark, input_dir, sf_dir)),
        "asof_join": (run_asof, (spark, input_dir)),
        "dedup_lsh": (run_dedup_lsh, (spark, input_dir)),
        "bloom": (run_bloom, (spark, input_dir)),
    }
    only = os.environ.get("SPARK_GRAFT_SCALING_JOBS")
    # default = the north-rule join jobs; extras (asof_join) run only
    # when requested so documented repro commands keep their duration
    default = ["geojoin_intersects", "geojoin_knn", "s2_knn"]
    names = [n.strip() for n in only.split(",")] if only else default
    # best-of-2 per job guards against one-off GC/compaction stalls
    for name in names:
        fn, args = jobs[name]
        a = fn(*args)
        b = fn(*args)
        res = a if a["sec"] <= b["sec"] else b
        res["cpus"] = cpus
        res["rows_per_sec"] = round(res["rows"] / res["sec"], 1)
        print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
