"""End-to-end resumable geotag pipeline: fingerprint-chained stages,
suffix-only recompute on parameter change, snapshot reuse across runs,
and correctness of the final tile rollup vs a direct computation."""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geotables_jl_spark.plans.pipeline import geotag_pipeline

SF = "/root/testdata/sf0.001"


def _events(root: str, run_id: str) -> list[dict]:
    path = os.path.join(root, run_id, "metrics.jsonl")
    with open(path) as f:
        return [json.loads(line) for line in f]


def test_pipeline_commits_then_resumes(spark, tmp_path):
    root = str(tmp_path)
    out1 = geotag_pipeline(spark, root, SF, run_id="p1")
    ev = _events(root, "p1")
    assert [e["event"] for e in ev] == ["commit"] * 4
    assert [e["stage"] for e in ev] == ["extract", "dedup", "stats", "tiles"]
    n_tiles = out1["tiles"].count()
    assert n_tiles > 0

    # fresh pipeline object, same params → every stage resumes from its
    # snapshot, nothing recomputes
    out2 = geotag_pipeline(spark, root, SF, run_id="p1")
    ev = _events(root, "p1")
    assert [e["event"] for e in ev[4:]] == ["resume_hit"] * 4
    assert out2["tiles"].count() == n_tiles


def test_param_change_recomputes_only_downstream(spark, tmp_path):
    root = str(tmp_path)
    geotag_pipeline(spark, root, SF, run_id="p2")
    # stage-3 parameter change → extract/dedup resume, stats/tiles recompute
    geotag_pipeline(spark, root, SF, run_id="p2", min_quality=-1e9)
    ev = _events(root, "p2")
    tail = {(e["stage"], e["event"]) for e in ev[4:]}
    assert tail == {
        ("extract", "resume_hit"),
        ("dedup", "resume_hit"),
        ("stats", "commit"),
        ("tiles", "commit"),
    }


def test_tile_rollup_matches_direct(spark, tmp_path):
    """The checkpointed flow must equal the same plan run unchunked."""
    out = geotag_pipeline(spark, str(tmp_path), SF, run_id="p3")
    got = {r["tile_id"]: (r["n_pages"], r["sum_tokens"]) for r in out["tiles"].collect()}

    from geotables_jl_spark.operators.dedup import dedup_exact
    from geotables_jl_spark.sources.webpages import extract_geotags, webpages_from_documents

    pages = extract_geotags(webpages_from_documents(spark, SF))
    pages = pages.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
    pages = dedup_exact(pages, "row_id", "text")
    direct = (
        pages.select(
            (
                F.floor((F.col("lat") + 90.0) / 10.0).cast("long") * 36
                + F.floor((F.col("lon") + 180.0) / 10.0).cast("long")
            ).alias("tile_id"),
            # whitespace token count in plain Spark SQL (the same
            # expression the DuckDB oracle of webpages_tiles replays)
            F.expr(
                "CASE WHEN trim(text) = '' THEN 0 ELSE size(split(trim(text), '\\\\s+')) END"
            ).alias("n_tokens"),
        )
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n_pages"), F.sum("n_tokens").alias("sum_tokens"))
    )
    want = {r["tile_id"]: (r["n_pages"], r["sum_tokens"]) for r in direct.collect()}
    assert got == want


def test_per_partition_lineage_in_snapshots(spark, tmp_path):
    """Every data file of every stage holds exactly one lineage value: the
    id of the task that wrote it, which Spark also puts in the file name
    (``part-<id>-...``). dedup does not inherit extract's values."""
    root = str(tmp_path)
    geotag_pipeline(spark, root, SF, run_id="p4")
    from geotables_jl_spark.plans.checkpoint import LINEAGE_COL, Checkpointer

    cp = Checkpointer(spark, root, run_id="p4")
    for stage in ("extract", "dedup", "stats", "tiles"):
        m = cp.manifest(stage)
        assert m is not None and m["rows"] == sum(m["partition_rows"].values())
        snap = spark.read.parquet(os.path.join(root, "p4", stage, "data"))
        assert LINEAGE_COL in snap.columns
        files = glob.glob(os.path.join(root, "p4", stage, "data", "*.parquet"))
        assert len(files) == m["partitions"], stage
        for f in files:
            vals = set(pq.read_table(f, columns=[LINEAGE_COL])[LINEAGE_COL].to_pylist())
            assert vals == {int(os.path.basename(f).split("-")[1])}, (stage, f, vals)


def test_manifests_match_snapshot_oracle(spark, tmp_path):
    """Each stage's manifest equals a scan of its snapshot: rows and
    per-partition rows a groupBy count, lat/lon bounds Spark's min/max,
    and the returned frame's schema the inferred one. A resume of the
    whole pipeline then launches no Spark job."""
    from geotables_jl_spark.core.geotable import georef
    from geotables_jl_spark.geom import cells
    from geotables_jl_spark.plans.checkpoint import LINEAGE_COL

    root = str(tmp_path)
    out = geotag_pipeline(spark, root, SF, run_id="p5")
    manifests = {}
    for stage, df in out.items():
        with open(os.path.join(root, "p5", stage, "_MANIFEST.json")) as f:
            m = manifests[stage] = json.load(f)
        snap = spark.read.parquet(os.path.join(root, "p5", stage, "data"))
        counts = {
            str(r[LINEAGE_COL]): r["cnt"]
            for r in snap.groupBy(LINEAGE_COL).agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        assert m["partition_rows"] == counts, stage
        assert m["rows"] == snap.count() > 0, stage
        if "lat" in snap.columns:
            mm = snap.agg(F.min("lat"), F.max("lat"), F.min("lon"), F.max("lon")).collect()[0]
            assert m["bounds"]["lat"] == [mm[0], mm[1]], stage
            assert m["bounds"]["lon"] == [mm[2], mm[3]], stage
        assert df.schema == snap.schema, stage

    # the tile join plans its page side (a bare scan of the stats
    # snapshot) from the footers, and they equal a forced data pass
    pages = georef(spark.read.parquet(os.path.join(root, "p5", "stats", "data")), coords=["lat", "lon"])
    footer = cells.footer_envelope_stats(pages.df)
    assert footer is not None and footer == cells.envelope_pass([pages.df])[0]

    sc = spark.sparkContext
    sc.setJobGroup("pipeline_resume", "pipeline_resume")
    try:
        again = geotag_pipeline(spark, root, SF, run_id="p5")
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("pipeline_resume") == []
    assert [e["event"] for e in _events(root, "p5")[4:]] == ["resume_hit"] * 4
    assert sorted(again["tiles"].collect()) == sorted(out["tiles"].collect())
