"""Seeded input generators for the benchmark workloads.

Every input is a function of ``(seed, size)`` only, so the same seed gives
the same bytes. Inputs are written once per run as many-split parquet under
the run's work directory; the timed calls read nothing else.

Page coordinates and URLs are derived by the package's own
``webpages_from_df`` from ``doc_id``. The seed remaps ``doc_id`` first
(:func:`remap_ids`), so every page moves with the seed. The remap keeps
``doc_id mod GEO_PERIOD`` classes together, which is what keeps planted
exact duplicates exact after ``webpages_from_df`` appends the geotag.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: ``webpages_from_df`` derives lat from ``doc_id mod 1700`` and lon from
#: ``doc_id mod 3600``: two ids give the same geotag iff they agree mod
#: lcm(1700, 3600).
GEO_PERIOD = 61_200

#: fixture-like text vocabulary plus the stopwords the text-stats and
#: language-guess kernels count, so their outputs vary per document
VOCAB = (
    "spark batch part line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer the a and of is in to it that for el la de y en que los "
    "un le et les des une der die das und ist ein nicht mit"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), sum(map(ord, stream))])


def remap_params(seed: int) -> tuple[int, int]:
    """(a, b) of the affine residue map ``r -> (a*r + b) mod GEO_PERIOD``;
    ``a`` is coprime to the period, so the map is a bijection."""
    rng = _rng(seed, "remap")
    while True:
        a = int(rng.integers(1, GEO_PERIOD))
        if math.gcd(a, GEO_PERIOD) == 1:
            return a, int(rng.integers(0, GEO_PERIOD))


def remap_ids(ids: np.ndarray, seed: int) -> np.ndarray:
    a, b = remap_params(seed)
    q, r = np.divmod(ids.astype(np.int64), GEO_PERIOD)
    return q * GEO_PERIOD + (a * r + b) % GEO_PERIOD


def remap_col(col, seed: int):
    """Spark-column twin of :func:`remap_ids` (exact long arithmetic)."""
    from pyspark.sql import functions as F

    a, b = remap_params(seed)
    q = F.floor(col / F.lit(GEO_PERIOD)).cast("long")
    r = F.pmod(col, F.lit(GEO_PERIOD))
    return q * F.lit(GEO_PERIOD) + (r * F.lit(a) + F.lit(b)) % F.lit(GEO_PERIOD)


def _texts(rng: np.random.Generator, n: int, vocab, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    words = rng.integers(0, len(vocab), size=int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    v = np.asarray(vocab, dtype=object)
    return [" ".join(v[words[bounds[i] : bounds[i + 1]]]) for i in range(n)]


def documents(seed: int, n: int, dup_every: int = 0) -> pa.Table:
    """``documents.parquet``-shaped table (doc_id, text, lang, source,
    n_chars) with remapped ids. With ``dup_every`` > 0, ``n // dup_every``
    of the ``n`` docs are exact copies of evenly spaced originals, each
    with its original's unmapped id plus ``GEO_PERIOD``: the same text and
    the same geotag, so exact dedup removes exactly that many rows."""
    rng = _rng(seed, "documents")
    n_dup = n // dup_every if dup_every else 0
    n_orig = n - n_dup
    if n_dup and n_orig > GEO_PERIOD:
        raise ValueError(f"planted duplicates need n - n//dup_every <= {GEO_PERIOD}")
    text = _texts(rng, n_orig, VOCAB, 8, 80)
    src = np.arange(n_dup, dtype=np.int64) * (n_orig // max(n_dup, 1))
    text += [text[j] for j in src]
    ids = np.concatenate([np.arange(n_orig, dtype=np.int64), GEO_PERIOD + src])
    lang = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), size=n, p=LANG_P)]
    return pa.table(
        {
            "doc_id": remap_ids(ids, seed),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def write_split(table: pa.Table, path: str, splits: int) -> int:
    """Write ``table`` as ``splits`` parquet files under directory
    ``path``; returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    step = max(1, -(-table.num_rows // splits))
    for i, off in enumerate(range(0, table.num_rows, step)):
        pq.write_table(table.slice(off, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def pages(spark, seed: int, n_base: int, amp: int, path: str, splits: int) -> int:
    """Geotagged page table (row_id, url, lat, lon): ``n_base`` seeded
    documents x ``amp`` copies, ids remapped, then the package's
    ``webpages_from_df`` + ``extract_geotags`` derive url and coordinates.
    Returns the bytes written."""
    from pyspark.sql import functions as F

    from geotables_jl_spark.sources.webpages import extract_geotags, webpages_from_df

    base = documents(seed, n_base).drop(["n_chars"])
    # undo the per-doc remap: the amplified id is remapped once, below
    base = base.set_column(0, "doc_id", pa.array(np.arange(n_base, dtype=np.int64)))
    doc = spark.createDataFrame(base.to_pandas()).repartition(splits)
    doc = doc.withColumn("__copy", F.explode(F.sequence(F.lit(0), F.lit(amp - 1))))
    doc = doc.withColumn(
        "doc_id", remap_col(F.col("doc_id") * F.lit(amp) + F.col("__copy"), seed)
    ).drop("__copy")
    out = extract_geotags(webpages_from_df(doc)).select("row_id", "url", "lat", "lon")
    out.write.mode("overwrite").parquet(path)
    return dir_bytes(path)


def directory(seed: int, n: int) -> pa.Table:
    """kNN right side: ``n`` amenity-style points (row_id, lat, lon) on a
    1e-4 degree lattice, uniform over the page extent."""
    rng = _rng(seed, "directory")
    lat = np.round(rng.uniform(-85.0, 85.0, n), 4)
    lon = np.round(rng.uniform(-180.0, 180.0, n), 4)
    return pa.table({"row_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon})


#: near-dup shape: every 10th row repeats its 100-row group's template
#: (the group's first row) byte for byte; the row at offset 5 is the
#: template with its last word replaced (3-shingle Jaccard 21/23).
GROUP = 100


def neardup_docs(seed: int, n: int, words: int = 24, vocab: int = 2000) -> pa.Table:
    rng = _rng(seed, "neardup")
    v = [f"t{i}" for i in range(vocab)]
    text = _texts(rng, n, v, words, words)
    for i in range(n):
        g = i - i % GROUP
        if i % 10 == 0 and i != g:
            text[i] = text[g]
        elif i % GROUP == 5:
            toks = text[g].split(" ")
            toks[-1] = "variant"
            text[i] = " ".join(toks)
    return pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": pa.array(text, pa.string())})
