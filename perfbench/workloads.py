"""The benchmark's workloads: seeded inputs, one closed-loop call into the
package's public API, an independent correctness check of each call's
output, and the traced per-layer breakdown.

``geojoin``: the north-star joins over one page table — the 648 10-degree
tiles joined by intersects (broadcast tile side, points, envelope-only
refine, pure JVM) and then ``knn_join(k=10)`` against an amenity
directory (broadcast ``RightIndex`` + the ``geom.knn_kernel`` Arrow map).

``pipeline``: ``geotag_pipeline`` committing into a fresh root, then
re-invoked with the same arguments to resume from its snapshots. Its
traced run also traces ``dedup_clusters`` on a seeded near-dup corpus,
the MinHash-LSH / connected-components path of the corpus layer.

Layer spans live here, around calls into each layer; where a layer is a
prefix of one operator, the span times cumulative prefixes and a layer's
self time is the difference between consecutive prefixes.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import eventlog
import gen
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from harness import Spans, noop

from pyspark.sql import functions as F

K = 10  # neighbours per page
STAGES = ("extract", "dedup", "stats", "tiles")


def _tiles_table(spark):
    """The 648 10-degree LatLon tiles as a GeoTable keyed by ``tile_id``."""
    from geotables_jl_spark import GeoTable, georef_grid

    g = georef_grid(spark, 36, 18, ox=-180.0, oy=-90.0, sx=10.0, sy=10.0, crs="LatLon")
    return GeoTable(
        df=g.df.select("row_id", F.col("row_id").alias("tile_id"), "geometry"),
        crs=g.crs,
        grid=g.grid,
    )


def _tile_id(lat, lon):
    """Plain floor() tile id of a point — the independent reference."""
    return np.floor((lon + 180.0) / 10.0).astype(np.int64) + 36 * np.floor(
        (lat + 90.0) / 10.0
    ).astype(np.int64)


def rep(spans: Spans, name: str, fn, n: int = 2) -> float:
    """Median wall of ``n`` spans ``name/0`` .. ``name/{n-1}`` of ``fn``."""
    return statistics.median(spans.time(f"{name}/{i}", fn) for i in range(n))


def _parquet_rows(path: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


class GeoJoin:
    name = "geojoin"
    N_BASE, AMP, SPLITS = 5_000, 20, 16  # 100k pages in 16 splits
    N_DIR = 100_000  # kNN directory points
    SAMPLE = 200  # pages whose neighbours are checked per call
    SCORE_BATCH = 20_000  # driver-side kernel batch (traced run)

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.items = self.N_BASE * self.AMP

    def generate(self, dest: str) -> dict:
        pages_b = gen.pages(self.spark, self.seed, self.N_BASE, self.AMP, f"{dest}/pages", self.SPLITS)
        dir_b = gen.write_split(gen.directory(self.seed, self.N_DIR), f"{dest}/directory", 4)
        return {"pages": [self.items, pages_b], "directory": [self.N_DIR, dir_b]}

    def use(self, dest: str) -> None:
        self.pages_dir, self.dir_dir = f"{dest}/pages", f"{dest}/directory"

    def prepare(self) -> None:
        """References from the input files alone: per-tile count and min
        url by floor() tile id; top-k by numpy brute force for a seeded
        sample of pages, ordered by (distance, neighbour id)."""
        pages = pq.read_table(self.pages_dir).to_pandas()
        pages["tile"] = _tile_id(pages["lat"].to_numpy(), pages["lon"].to_numpy())
        agg = pages.groupby("tile").agg(n=("row_id", "size"), url=("url", "min"))
        self.ref_tiles = {int(t): (int(r.n), r.url) for t, r in agg.iterrows()}
        rng = np.random.default_rng([self.seed, 7])
        pick = rng.choice(len(pages), size=self.SAMPLE, replace=False)
        d = pq.read_table(self.dir_dir).to_pandas()
        rid, rx, ry = d["row_id"].to_numpy(), d["lon"].to_numpy(), d["lat"].to_numpy()
        self.ref_knn = {}
        for i in pick:
            dx, dy = rx - pages["lon"].iat[i], ry - pages["lat"].iat[i]
            dist = np.sqrt(dx * dx + dy * dy)
            near = np.flatnonzero(dist <= np.partition(dist, K - 1)[K - 1])
            top = near[np.lexsort((rid[near], dist[near]))][:K]
            self.ref_knn[int(pages["row_id"].iat[i])] = (rid[top].tolist(), dist[top])
        self.sample = sorted(self.ref_knn)
        self.batch = pages.iloc[: self.SCORE_BATCH][["row_id", "lon", "lat"]]

    def _pages(self):
        from geotables_jl_spark import georef

        return georef(self.spark.read.parquet(self.pages_dir), coords=["lat", "lon"])

    def _directory(self):
        from geotables_jl_spark import georef

        return georef(self.spark.read.parquet(self.dir_dir), coords=["lat", "lon"])

    def _right(self, pages):
        from geotables_jl_spark import GeoTable

        df = pages.df.withColumn("page_id", F.col("row_id"))
        return GeoTable(df=df.select("row_id", "page_id", "url", "geometry"), crs=pages.crs)

    def _query(self, pages):
        from geotables_jl_spark import GeoTable

        return GeoTable(df=pages.df.select("row_id", "geometry"), crs=pages.crs)

    def call(self, spans: Spans):
        from geotables_jl_spark import geojoin, knn_join

        with spans.group("tiles"):
            pages = self._pages()
            res = geojoin(_tiles_table(self.spark), self._right(pages),
                          aggs={"page_id": "count", "url": "min"}, kind="inner")
            tiles = res.df.select("tile_id", "page_id", "url").collect()
        with spans.group("knn"):
            out = knn_join(self._query(pages), self._directory(), k=K)
            hit = F.col("row_id").isin(self.sample)
            summary = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_list(
                    F.when(hit, F.struct("row_id", "rank", "neighbor_id", "distance"))
                ).alias("s"),
            ).collect()[0]
        return tiles, summary

    def check(self, result) -> list[str]:
        tiles, summary = result
        bad = []
        got = {r.tile_id: (r.page_id, r.url) for r in tiles}
        if got != self.ref_tiles:
            diff = sorted(set(got.items()) ^ set(self.ref_tiles.items()))[:3]
            bad.append(f"tiles: {len(got)} tiles vs {len(self.ref_tiles)} expected; first diffs {diff}")
        if summary.n != self.items * K:
            bad.append(f"knn: {summary.n} pairs, expected {self.items * K}")
        rows: dict[int, list] = {}
        for r in summary.s:
            rows.setdefault(r.row_id, []).append(r)
        for lid, (rids, dists) in self.ref_knn.items():
            got_rows = sorted(rows.get(lid, []), key=lambda r: r.rank)
            ok = [r.rank for r in got_rows] == list(range(1, K + 1))
            ok = ok and [r.neighbor_id for r in got_rows] == rids
            ok = ok and np.allclose([r.distance for r in got_rows], dists, rtol=1e-12, atol=0.0)
            if not ok:
                bad.append(f"knn: row {lid} neighbours differ from brute force")
                break
        return bad

    def layers(self, spans: Spans, calls: list, record) -> dict:
        from geotables_jl_spark.geom.cells import choose_cell_size, envelope_stats
        from geotables_jl_spark.geom.knn_kernel import (
            NeighborIndex,
            RightIndex,
            pack_cells_np,
            score_batch_exact,
        )
        from geotables_jl_spark.operators.geojoin import candidate_pairs, geojoin, knn_join, refine

        m = {}
        spark = self.spark
        pages = self._pages()
        left, right = _tiles_table(spark), self._right(pages)
        m["core.geotable.georef_s"] = rep(spans, "layer/georef", lambda: noop(pages.df))

        s = {}
        t_left = rep(spans, "layer/stats_left", lambda: s.update(s1=envelope_stats(left.df)))
        t_right = rep(spans, "layer/stats_right", lambda: s.update(s2=envelope_stats(right.df)))
        m["geom.cells.envelope_stats_left_s"] = t_left
        m["geom.cells.envelope_stats_right_s"] = t_right
        s1, s2 = s["s1"], s["s2"]

        # the plan geojoin derives from the two stats (operators/geojoin.py)
        pts1 = s1["n"] > 0 and not s1["avg_w"] and not s1["avg_h"]
        pts2 = s2["n"] > 0 and not s2["avg_w"] and not s2["avg_h"]
        exact1 = bool(s1["n"] > 0 and s1["all_exact"])
        exact2 = bool(s2["n"] > 0 and s2["all_exact"])
        env_only = exact1 and exact2

        def cand():
            return candidate_pairs(
                left.df, right.df, choose_cell_size(s1, s2), [], s1["n"], s2["n"],
                ["page_id", "url"], dedupe=not (pts1 or pts2), pts1=pts1, pts2=pts2,
                carry1=not env_only and not pts1, carry2=not env_only and not pts2,
            )

        def refined():
            return refine(cand(), "intersects", pts1=pts1, pts2=pts2, exact1=exact1, exact2=exact2)

        def prefix(stage):
            envelope_stats(left.df)
            envelope_stats(right.df)
            stage()

        t_stats = t_left + t_right
        t_cand = rep(spans, "layer/candidates", lambda: prefix(lambda: noop(cand())))
        t_ref = rep(spans, "layer/refine", lambda: prefix(lambda: noop(refined())))
        t_agg = rep(
            spans, "layer/aggregate",
            lambda: geojoin(left, right, aggs={"page_id": "count", "url": "min"}, kind="inner").df.collect(),
        )
        with spans.group("layer/counts"):
            n_cand, n_ref = cand().count(), refined().count()
        m["operators.geojoin.candidate_pairs_s"] = t_cand - t_stats
        m["operators.geojoin.candidate_rows"] = n_cand
        m["operators.geojoin.refine_s"] = t_ref - t_cand
        m["operators.geojoin.refine_yield"] = n_ref / n_cand if n_cand else 0.0
        m["operators.geojoin.aggregate_s"] = t_agg - t_ref

        # kNN: the two stats scans, then the pair stage's own time
        q, d = self._query(pages), self._directory()
        ks = {}
        t_kstats = rep(
            spans, "layer/knn_stats", lambda: ks.update(q=envelope_stats(q.df), d=envelope_stats(d.df))
        )
        t_knn = rep(spans, "layer/knn_pairs", lambda: noop(knn_join(q, d, k=K)))
        m["geom.cells.knn_envelope_stats_s"] = t_kstats
        m["operators.geojoin.knn_pairs_s"] = t_knn - t_kstats
        m["operators.geojoin.pairs_out"] = calls[-1][1].n

        # the round-1 cell size knn_pairs sizes from the stats
        sq, sd = ks["q"], ks["d"]
        ext_w = max(sq["xmax"], sd["xmax"]) - min(sq["xmin"], sd["xmin"])
        ext_h = max(sq["ymax"], sd["ymax"]) - min(sq["ymin"], sd["ymin"])
        extent = max(ext_w, ext_h, 1e-9)
        cell = 0.42 * math.sqrt(K * max(ext_w, 1e-9) * max(ext_h, 1e-9) / float(sd["n"]))
        cell = min(max(cell, extent / 65536.0), extent)
        idx = {}

        def build():
            pdf = d.df.select("row_id", F.col("geometry")["x"].alias("x"), F.col("geometry")["y"].alias("y")).toPandas()
            idx["base"] = RightIndex(pdf["row_id"].to_numpy(np.int64), pdf["x"].to_numpy(np.float64),
                                     pdf["y"].to_numpy(np.float64), cell)
            NeighborIndex(idx["base"], 2)

        m["geom.knn_kernel.index_build_s"] = rep(spans, "layer/index_build", build)
        b = self.batch
        lx, ly = b["lon"].to_numpy(np.float64), b["lat"].to_numpy(np.float64)
        lcell = pack_cells_np(np.floor(lx / cell).astype(np.int64), np.floor(ly / cell).astype(np.int64))
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            score_batch_exact(b["row_id"].to_numpy(np.int64), lx, ly, lcell, idx["base"], 2, K)
            walls.append(time.perf_counter() - t0)
        m["geom.knn_kernel.score_rows_per_s"] = len(b) / statistics.median(walls)
        return m

    def event_layers(self, groups: dict, last_call: str) -> dict:
        stats = eventlog.totals(groups, "layer/stats_left/0") + eventlog.totals(
            groups, "layer/stats_right/0"
        )
        tiles = eventlog.GroupTotals()
        for gid, g in groups.items():
            if gid.startswith("call") and gid.endswith("/tiles"):
                tiles = tiles + g
        return {
            "geom.cells.jobs": stats.jobs,
            "operators.geojoin.intersects_py_ms": tiles.py_start_init_ms + tiles.py_run_ms,
            "operators.geojoin.intersects_py_bytes": tiles.py_bytes_in + tiles.py_bytes_out,
        }


class Pipeline:
    name = "pipeline"
    N_DOCS, DUP_EVERY, SPLITS = 25_000, 50, 8  # 500 planted exact duplicates

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.items = self.N_DOCS
        self.n_roots = 0

    def generate(self, dest: str) -> dict:
        self.table = gen.documents(self.seed, self.N_DOCS, self.DUP_EVERY)
        b = gen.write_split(self.table, f"{dest}/sf/documents.parquet", self.SPLITS)
        return {"documents": [self.N_DOCS, b]}

    def use(self, dest: str) -> None:
        self.dest, self.sf = dest, f"{dest}/sf"
        self.input_bytes = gen.dir_bytes(f"{self.sf}/documents.parquet")

    def prepare(self) -> None:
        """Per-tile page counts recomputed without Spark or checkpoints:
        the geotag formula of ``webpages_from_df``, min-id keeper per
        distinct text, then floor() tile ids."""
        t = self.table.to_pandas()
        d = t["doc_id"].to_numpy()
        ilat = (d * 7919) % 1700 * 1000 + 500 - 850000
        ilon = (d * 104729) % 3600 * 1000 + 500 - 1800000
        text = t["text"] + " geo:" + ilat.astype(str).astype(object) + "," + ilon.astype(str).astype(object)
        keep = np.zeros(len(d), dtype=bool)
        keep[pd.DataFrame({"text": text, "d": d}).groupby("text")["d"].idxmin().to_numpy()] = True
        tiles = _tile_id(ilat[keep] / 10000.0, ilon[keep] / 10000.0)
        ids, counts = np.unique(tiles, return_counts=True)
        self.ref_counts = dict(zip(ids.tolist(), counts.tolist()))
        self.ref_kept = int(keep.sum())

    def _root(self) -> str:
        self.n_roots += 1
        return f"{self.dest}/roots/r{self.n_roots}"

    def call(self, spans: Spans):
        from geotables_jl_spark import geotag_pipeline

        root = self._root()
        with spans.group("commit"):
            committed = geotag_pipeline(self.spark, root, self.sf)["tiles"].collect()
        with spans.group("resume"):
            resumed = geotag_pipeline(self.spark, root, self.sf)["tiles"].collect()
        return {
            "root": root,
            "committed": committed,
            "resumed": resumed,
            "commit_s": spans.walls[spans.prefix + "commit"],
            "resume_s": spans.walls[spans.prefix + "resume"],
        }

    def check(self, res: dict) -> list[str]:
        """Resume equals commit; per-tile counts equal the reference;
        each manifest's ``rows`` equals its parquet footers. The root is
        deleted afterwards so disk use does not grow over calls."""
        import json

        bad = []
        root = res["root"]
        try:
            if sorted(res["resumed"]) != sorted(res["committed"]):
                bad.append("pipeline: resumed tiles differ from committed tiles")
            got = {r.tile_id: r.n_pages for r in res["committed"]}
            if got != self.ref_counts:
                bad.append(f"pipeline: per-tile counts differ ({sum(got.values())} vs {self.ref_kept} pages)")
            rows = {}
            for st in STAGES:
                with open(f"{root}/geotag/{st}/_MANIFEST.json") as f:
                    manifest = json.load(f)
                rows[st] = _parquet_rows(f"{root}/geotag/{st}/data")
                if manifest["rows"] != rows[st]:
                    bad.append(f"pipeline: {st} manifest rows {manifest['rows']} != {rows[st]} on disk")
            res["stage_rows"] = rows
            res["bytes_written"] = gen.dir_bytes(root)
            res["files_written"] = sum(len(fs) for _, _, fs in os.walk(root))
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return bad

    def layers(self, spans: Spans, calls: list, record) -> dict:
        from geotables_jl_spark import GeoTable, geojoin, georef, geotag_pipeline
        from geotables_jl_spark.functions import textstats as T
        from geotables_jl_spark.operators.dedup import dedup_exact
        from geotables_jl_spark.sources.webpages import extract_geotags, webpages_from_documents

        spark = self.spark
        m = {}
        # each stage's own work over its predecessor's committed snapshot
        root = self._root()
        geotag_pipeline(spark, root, self.sf)

        def snap(st):
            return spark.read.parquet(f"{root}/geotag/{st}/data")

        def extract():
            pages = extract_geotags(webpages_from_documents(spark, self.sf))
            noop(pages.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
                 .select("row_id", "url", "warc_ts", "text", "lang", "lat", "lon"))

        def text_core():
            noop(T.text_core_arrow(snap("dedup").select("row_id", "url", "lat", "lon", "text"),
                                   keep=("row_id", "url", "lat", "lon")))

        def tiles():
            pages = georef(snap("stats"), coords=["lat", "lon"])
            pages = GeoTable(df=pages.df.withColumn("page_id", F.col("row_id"))
                             .select("row_id", "page_id", "n_tokens", "geometry"), crs=pages.crs)
            geojoin(_tiles_table(spark), pages, aggs={"page_id": "count", "n_tokens": "sum"},
                    kind="inner").df.collect()

        try:
            work = {
                "sources.webpages.extract_s": rep(spans, "layer/extract", extract),
                "operators.dedup.dedup_exact_s": rep(
                    spans, "layer/dedup_exact",
                    lambda: noop(dedup_exact(snap("extract"), "row_id", "text"))),
                "functions.textstats.text_core_arrow_s": rep(spans, "layer/text_core", text_core),
                "operators.geojoin.tiles_stage_s": rep(spans, "layer/tiles", tiles),
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)
        m.update(work)
        last = calls[-1]
        m["plans.checkpoint.commit_overhead_s"] = (
            statistics.median(c["commit_s"] for c in calls) - sum(work.values())
        )
        m["plans.checkpoint.resume_read_s"] = statistics.median(c["resume_s"] for c in calls)
        m["plans.checkpoint.bytes_written"] = last["bytes_written"]
        m["plans.checkpoint.files_written"] = last["files_written"]
        m["plans.checkpoint.bytes_per_input_byte"] = last["bytes_written"] / self.input_bytes
        for st in STAGES:
            m[f"plans.pipeline.stage_rows.{st}"] = last["stage_rows"][st]
        m["operators.dedup.dup_rows_removed"] = last["stage_rows"]["extract"] - last["stage_rows"]["dedup"]
        m.update(NearDup(spark, self.seed).trace(f"{self.dest}/neardup", spans, record))
        return m

    def event_layers(self, groups: dict, last_call: str) -> dict:
        return {"plans.checkpoint.resume_jobs": eventlog.totals(groups, last_call + "resume").jobs}


class NearDup:
    """``dedup_clusters`` over the near-dup corpus of ``gen.neardup_docs``,
    traced inside the pipeline workload's traced run."""

    N = 10_000

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed

    def check(self, rows) -> list[str]:
        """Each template group's exact duplicates form one cluster whose
        id is the group's min id, and no cluster mixes groups."""
        bad = []
        cid = {r.doc_id: r.cluster_id for r in rows}
        for g in range(0, self.N, gen.GROUP):
            members = [i for i in range(g, min(g + gen.GROUP, self.N), 10)]
            if len(members) > 1 and any(cid.get(i) != g for i in members):
                bad.append(f"neardup: exact-duplicate group {g} is not one cluster with id {g}")
                break
        if any(c != d - d % gen.GROUP for d, c in cid.items()):
            bad.append("neardup: a cluster mixes docs of different template groups")
        return bad

    def trace(self, dest: str, spans: Spans, record) -> dict:
        from geotables_jl_spark import dedup_clusters
        from geotables_jl_spark.operators.dedup import (
            _shingle_sets,
            connected_components,
            minhash_lsh_pairs,
            minhash_signatures_arrow,
        )

        gen.write_split(gen.neardup_docs(self.seed, self.N), dest, 4)
        docs = self.spark.read.parquet(dest)
        out = {}
        spans.time("neardup/call", lambda: out.update(rows=dedup_clusters(docs, "doc_id", "text").collect()))
        record(self.check(out["rows"]))

        # prefixes of dedup_clusters with its defaults: persisted shingles
        # -> signatures -> verified LSH star pairs -> connected components
        shingled = _shingle_sets(docs, "doc_id", "text", 3).persist()
        try:
            def sig():
                return minhash_signatures_arrow(None, num_perm=64, shingled=shingled)

            def pairs(verify=True):
                return minhash_lsh_pairs(docs, "doc_id", "text", num_perm=64, bands=32,
                                         pair_mode="star", shingled=shingled, signatures=sig(),
                                         verify=verify)

            t_sig = spans.time("layer/signatures", lambda: (shingled.count(), noop(sig())))
            t_lsh = spans.time("layer/lsh_pairs", lambda: (shingled.count(), noop(pairs())))
            t_cc = spans.time("layer/connected_components",
                              lambda: (shingled.count(), connected_components(pairs()).count()))
            with spans.group("layer/counts"):
                n_cand, n_ver = pairs(verify=False).count(), pairs().count()
        finally:
            shingled.unpersist()
        rows = out["rows"]
        return {
            "operators.dedup.signatures_s": t_sig,
            "operators.dedup.lsh_pairs_s": t_lsh - t_sig,
            "operators.dedup.candidate_pairs": n_cand,
            "operators.dedup.verified_pairs": n_ver,
            "operators.dedup.lsh_precision": n_ver / n_cand if n_cand else 0.0,
            "operators.dedup.connected_components_s": t_cc - t_lsh,
            "operators.dedup.clusters": len({r.cluster_id for r in rows}),
            "operators.dedup.clustered_docs": len(rows),
        }


WORKLOADS = {w.name: w for w in (GeoJoin, Pipeline)}
