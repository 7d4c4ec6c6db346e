"""Bloom-filter incremental crawl dedup: anti-join new arrivals against
a massive historical corpus WITHOUT shuffling the corpus.

The reference engine has no incremental story (in-memory batch,
``/root/reference/src/geotable.jl``); a web-scale crawl pipeline needs
"which of today's N_new URLs have we already fetched?" against 10^9+
historical keys, and the naive plan — shuffle corpus ⋈ arrivals — moves
the corpus every day. The classic fix is a Bloom filter over the corpus
keys, broadcast to the arrival scan:

- **build** is one pass over the corpus with a *sparse word* shuffle:
  each partition hashes its keys JVM-side (``xxhash64`` twice,
  Kirsch–Mitzenmacher double hashing), sets bits in a local numpy
  word array per shard, and emits only its NONZERO 64-bit words as
  ``(shard, word_idx, word)`` rows; ``groupBy(shard, word_idx)
  .agg(bit_or)`` merges them map-side-combinably. An in-memory filter
  is the one-shard case: the driver collects at most ``m/64`` merged
  words once — never per-partition arrays, never the keys.
- **probe** is one Arrow column kernel over ``(shard, h1, h2)``: the
  arrivals hash with the same JVM expressions and the kernel tests
  ``k`` bit positions against the broadcast word array (map-only, no
  shuffle touches either side) or, for a sharded on-disk filter,
  against the one shard each task's rows were routed to.

Contract (the right trade for crawl dedup): **no false negatives** — a
key that is in the corpus always tests positive, so nothing is ever
re-crawled; a fraction ``fpp`` of genuinely-new keys false-positive and
are skipped this cycle (they return next crawl). Size math is the
standard ``m = -n ln p / (ln 2)^2`` per shard; a ``max_bytes`` guard
(default 256 MiB ≈ 1.7e8 keys at 1%) refuses silently-undersized or
unbroadcastable filters — beyond that, build ``n_shards`` filters into
an ``out_dir`` (the driver never holds them), or fall back to the
bucketed sort-merge anti-join.
"""

from __future__ import annotations

import json
import math
import os
import uuid
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geotables_jl_spark.session import column_kernel

#: second-hash seed column literal (any fixed value != default seed 42
#: of Spark's xxhash64 gives an independent 64-bit stream)
_H2_SEED = 0x9E3779B9

#: shard-routing hash seed — a third independent xxhash64 stream (h1
#: uses the default seed, h2 uses _H2_SEED)
_SHARD_SEED = 0x5851F42D

_WORD_BITS = 64

_MANIFEST = "_bloom_manifest.json"


def _optimal_params(expected_n: int, fpp: float) -> tuple[int, int]:
    """(m_bits, k) for a target false-positive rate ``fpp`` at
    ``expected_n`` distinct keys (standard Bloom sizing)."""
    if expected_n <= 0:
        return _WORD_BITS, 1
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0,1), got {fpp}")
    m = int(math.ceil(-expected_n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(m, _WORD_BITS)
    # round up to a whole word count so the word array is exact
    m = ((m + _WORD_BITS - 1) // _WORD_BITS) * _WORD_BITS
    k = max(1, round(m / expected_n * math.log(2)))
    return m, k


def _hash_cols(key: Column) -> tuple[Column, Column]:
    """JVM-side 64-bit double-hash pair for ``key``.

    Spark's ``xxhash64`` never returns NULL (null inputs are skipped and
    it hashes just the seed), so these columns are non-null longs — they
    reach Arrow kernels as exact int64, never the float64 a nullable
    long would become (float64 cannot represent all 64-bit hashes).
    Callers mask NULL keys JVM-side instead."""
    return F.xxhash64(key), F.xxhash64(key, F.lit(_H2_SEED))


def _shard_col(key: Column, n_shards: int) -> Column:
    """Shard id of ``key``: 0 for a one-shard filter, else its routing
    hash mod ``n_shards`` (non-null, like the hash pair)."""
    if n_shards == 1:
        return F.lit(0).cast("long")
    return F.pmod(F.xxhash64(key, F.lit(_SHARD_SEED)), F.lit(n_shards))


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing: (h1 + i*h2) mod 2^64
    mod m. Vectorized uint64 math — wraparound is the intended mod-2^64."""
    with np.errstate(over="ignore"):
        i = np.arange(k, dtype=np.uint64)[None, :]
        pos = (h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)
    return pos


@dataclass
class BloomFilter:
    """Bloom filter of ``n_shards`` equally sized shards. ``words`` is
    the packed bit array of a one-shard in-memory filter (little-endian
    within each uint64 word); an on-disk filter (``out_dir``, any shard
    count) has ``words=None`` and is read back per shard by the probe.
    The sizing params reproduce the probe math anywhere (numpy, plain
    Python, another engine)."""

    m_bits: int  # per shard
    k: int
    words: np.ndarray | None  # uint64[m_bits/64]
    n_added: int = 0
    fpp_target: float = 0.01
    fill_ratio: float | None = 0.0  # None when the words stay on disk
    n_shards: int = 1
    out_dir: str | None = None
    #: unique per BUILD, not per path: a rebuild into the same out_dir
    #: (the daily mode=overwrite incremental-crawl flow) must invalidate
    #: worker caches keyed on the previous build — without it,
    #: long-lived Python workers would keep serving the old word arrays
    #: and silently break the no-false-negative contract
    build_token: str = ""

    @classmethod
    def from_dir(cls, out_dir: str) -> BloomFilter:
        """Reopen a filter that :func:`build_bloom` wrote to ``out_dir``
        — the manifest travels with the data, as the checkpoint layer's
        ``_MANIFEST.json`` does."""
        with open(os.path.join(out_dir, _MANIFEST)) as f:
            man = json.load(f)
        return cls(
            m_bits=man["m_bits"],
            k=man["k"],
            words=None,
            n_added=man["expected_n"],
            fpp_target=man["fpp"],
            fill_ratio=None,
            n_shards=man["n_shards"],
            out_dir=out_dir,
            # pre-token manifests (older builds) fall back to path-only identity
            build_token=man.get("build_token", ""),
        )

    def contains_np(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Vectorized membership test for pre-hashed keys (uint64)."""
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        pos = _positions(h1, h2, self.k, self.m_bits)
        w = self.words[(pos >> np.uint64(6))]
        bit = (w >> (pos & np.uint64(63))) & np.uint64(1)
        return bit.all(axis=1)


def build_bloom(
    df: DataFrame,
    key_col: str,
    expected_n: int | None = None,
    fpp: float = 0.01,
    max_bytes: int = 256 * 1024 * 1024,
    *,
    n_shards: int = 1,
    out_dir: str | None = None,
) -> BloomFilter:
    """One-pass distributed Bloom build over ``df[key_col]``.

    Two actions when ``expected_n`` is None (a distinct-count to size the
    filter, then the build); pass ``expected_n`` (e.g. from table stats
    or yesterday's build) to make it ONE action — the standard
    stats-injection escape hatch this repo uses for planning counts.

    Shard s owns the keys with ``xxhash64(key, seed₃) mod n_shards ==
    s``; each shard is an independent filter sized for
    ``ceil(expected_n / n_shards)`` keys and bounded by ``max_bytes``.

    Scale shape: the sparse ``(shard, word_idx, bit_or)`` merge is
    bounded by min(total set bits, n_shards·m/64) rows regardless of
    corpus size, partial-aggregated map-side. With ``n_shards > 1`` one
    24-byte/row shuffle of (shard, h1, h2) first routes keys to
    shard-owning tasks, so each task builds a dense word array for ≈1
    shard.

    The sink is the only branch:

    - no ``out_dir``: the driver materializes the merged words ONCE via
      Arrow (``toPandas`` → numpy columns) into ``BloomFilter.words`` —
      ~m/8 bytes of word payload + an 8-byte index per nonzero word,
      never per-Row Python objects (tens of millions of Rows at the
      256 MiB ceiling). Only a one-shard filter can live there.
    - ``out_dir``: the words land as ONE parquet dataset
      ``partitionBy(shard)`` plus ``_bloom_manifest.json``, so probes
      read exactly one directory per shard and a later process reopens
      it with :meth:`BloomFilter.from_dir`. ``out_dir`` must be visible
      to BOTH driver and executor Python workers (local FS here; a
      shared filesystem / fuse mount on a cluster) — the checkpoint
      layer's manifest contract (``plans/checkpoint.py``).
    """
    if n_shards > 1 and out_dir is None:
        raise ValueError(
            f"n_shards={n_shards} needs an out_dir: the driver never holds "
            "a sharded filter"
        )
    if expected_n is None:
        expected_n = df.select(key_col).na.drop().distinct().count()
    m_bits, k = _optimal_params(-(-expected_n // n_shards), fpp)
    if m_bits // 8 > max_bytes:
        raise ValueError(
            f"bloom shard of {m_bits // 8} bytes (expected_n={expected_n}, "
            f"n_shards={n_shards}, fpp={fpp}) exceeds max_bytes={max_bytes}; "
            "raise n_shards (with an out_dir) or use a bucketed anti-join"
        )
    n_words = m_bits // _WORD_BITS
    key = F.col(key_col)
    h1c, h2c = _hash_cols(key)
    hashed = df.filter(key.isNotNull()).select(
        _shard_col(key, n_shards).alias("__shard"),
        h1c.alias("__h1"),
        h2c.alias("__h2"),
    )
    if n_shards > 1:
        hashed = hashed.repartition(n_shards, "__shard")

    def _partition_words(batches: Iterator) -> Iterator:
        import pandas as pd

        # one dense array per shard PRESENT IN THIS PARTITION — with
        # hash routing that is ~1 shard (a few under partition-count
        # collisions), each bounded by max_bytes
        dense: dict[int, np.ndarray] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sh = pdf["__shard"].to_numpy(dtype=np.int64)
            h1 = pdf["__h1"].to_numpy(dtype=np.int64).view(np.uint64)
            h2 = pdf["__h2"].to_numpy(dtype=np.int64).view(np.uint64)
            for s in np.unique(sh):
                sel = sh == s
                words = dense.setdefault(int(s), np.zeros(n_words, dtype=np.uint64))
                pos = _positions(h1[sel], h2[sel], k, m_bits).ravel()
                np.bitwise_or.at(
                    words, pos >> np.uint64(6), np.uint64(1) << (pos & np.uint64(63))
                )
        for s, words in dense.items():
            (idx,) = np.nonzero(words)
            yield pd.DataFrame(
                {
                    "shard": np.full(len(idx), s, dtype=np.int64),
                    "word_idx": idx.astype(np.int64),
                    "word": words[idx].view(np.int64),
                }
            )

    merged = (
        hashed.mapInPandas(_partition_words, schema="shard long, word_idx long, word long")
        .groupBy("shard", "word_idx")
        .agg(F.bit_or("word").alias("word"))
    )

    if out_dir is not None:
        merged.write.mode("overwrite").partitionBy("shard").parquet(out_dir)
        manifest = {
            "n_shards": n_shards,
            "m_bits": m_bits,
            "k": k,
            "expected_n": expected_n,
            "fpp": fpp,
            "format": "parquet partitionBy(shard): (word_idx long, word long)",
            "build_token": uuid.uuid4().hex,
        }
        with open(os.path.join(out_dir, _MANIFEST), "w") as f:
            f.write(json.dumps(manifest))
        return BloomFilter.from_dir(out_dir)

    # Arrow collect: two flat numpy columns, no Row objects (both
    # columns are non-null longs by construction, so the Arrow→pandas
    # conversion stays int64 — no float widening)
    pdf = merged.select("word_idx", "word").toPandas()
    words = np.zeros(n_words, dtype=np.uint64)
    if len(pdf):
        idx = pdf["word_idx"].to_numpy(dtype=np.int64)
        words[idx] = pdf["word"].to_numpy(dtype=np.int64).view(np.uint64)
    set_bits = int(np.unpackbits(words.view(np.uint8)).sum())
    return BloomFilter(
        m_bits=m_bits,
        k=k,
        words=words,
        n_added=expected_n,
        fpp_target=fpp,
        fill_ratio=set_bits / m_bits,
    )


def _load_shard_words(out_dir: str, shard: int, n_words: int) -> np.ndarray:
    """Read one shard's sparse words into a dense array (probe side —
    runs inside executor Python workers via pyarrow, no Spark)."""
    import glob

    import pyarrow.parquet as pq

    words = np.zeros(n_words, dtype=np.uint64)
    for path in sorted(glob.glob(f"{out_dir}/shard={shard}/*.parquet")):
        t = pq.read_table(path, columns=["word_idx", "word"])
        idx = t.column("word_idx").to_numpy()
        w = t.column("word").to_numpy().view(np.uint64)
        words[idx] |= w
    return words


#: worker-global LRU shard cache keyed by (out_dir, build_token, shard).
#: The token (unique per build, from the manifest) makes a rebuild into
#: the SAME directory a cache miss — path alone is not a build identity
#: under mode=overwrite. Bounded: probes are shard-partitioned so the
#: per-worker working set is ~1 shard; a small LRU keeps hit rate ~1
#: while capping memory at cap × max_bytes instead of letting a
#: long-lived worker that serves many shards/builds accumulate dense
#: word arrays until it dies.
_SHARD_CACHE: dict = {}
_SHARD_CACHE_MAX = 4


def _cached_shard_words(
    out_dir: str, build_token: str, shard: int, n_words: int
) -> np.ndarray:
    ck = (out_dir, build_token, shard)
    words = _SHARD_CACHE.get(ck)
    if words is None:
        words = _load_shard_words(out_dir, shard, n_words)
    else:
        del _SHARD_CACHE[ck]  # re-insert → most-recently-used
    _SHARD_CACHE[ck] = words
    while len(_SHARD_CACHE) > _SHARD_CACHE_MAX:
        # dicts iterate in insertion order: first key = least recent
        _SHARD_CACHE.pop(next(iter(_SHARD_CACHE)))
    return words


def with_bloom_contains(
    df: DataFrame, bf: BloomFilter, key_col: str, out_col: str = "in_corpus"
) -> DataFrame:
    """Adds boolean ``out_col``: might-be-in-corpus (no false negatives;
    true with probability ~fpp for absent keys). NULL key → NULL flag.

    The hashes and the shard id are JVM expressions; one Arrow column
    kernel gathers the ``k`` probes against the shard's words — the
    task-side broadcast array of an in-memory filter, or the shard file
    of an on-disk one, loaded lazily and cached per worker. An in-memory
    or one-shard filter probes map-only; a sharded filter first routes
    the arrivals to their shard (ONE exchange on the shard id), so each
    task holds one shard (``max_bytes``), never the full filter."""
    if out_col in df.columns:
        raise ValueError(
            f"output column {out_col!r} already exists on the input; pass a "
            "different out_col (withColumn would silently overwrite it)"
        )
    m_bits, k = bf.m_bits, bf.k
    if bf.words is not None:
        bc = df.sparkSession.sparkContext.broadcast(bf.words)

        def shard_words(s: int) -> np.ndarray:
            return bc.value

    else:
        out_dir, token, n_words = bf.out_dir, bf.build_token, m_bits // _WORD_BITS

        def shard_words(s: int) -> np.ndarray:
            return _cached_shard_words(out_dir, token, s, n_words)

    @column_kernel("boolean")
    def bloom_probe(shard: pa.Array, h1: pa.Array, h2: pa.Array) -> pa.Array:
        # non-null int64 by construction (_hash_cols, _shard_col) —
        # exact, no float64 widening
        sh = shard.to_numpy()
        h1 = h1.to_numpy().view(np.uint64)
        h2 = h2.to_numpy().view(np.uint64)
        flags = np.empty(len(sh), dtype=bool)
        for s in np.unique(sh):
            sel = sh == s
            flags[sel] = BloomFilter(m_bits, k, shard_words(int(s))).contains_np(
                h1[sel], h2[sel]
            )
        return pa.array(flags)

    key = F.col(key_col)
    shard = _shard_col(key, bf.n_shards)
    if bf.n_shards > 1:
        df = df.repartition(bf.n_shards, shard)
    # NULL key → NULL flag, decided JVM-side
    return df.withColumn(
        out_col, F.when(key.isNotNull(), bloom_probe(shard, *_hash_cols(key)))
    )


def bloom_anti_join(
    new_df: DataFrame,
    corpus: DataFrame | BloomFilter,
    key_col: str,
    expected_n: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """Rows of ``new_df`` whose ``key_col`` is (probably) NOT in the
    corpus — the incremental-crawl frontier. Keys already crawled are
    never emitted (no false negatives); ~``fpp`` of genuinely-new keys
    are withheld this cycle (they surface again next crawl, so the
    pipeline is complete over time). NULL keys pass through as new.

    Plan: corpus scanned once (build), arrivals map-only (plus the
    shard-routing exchange of a sharded filter). Nothing shuffles on
    the join key."""
    bf = corpus if isinstance(corpus, BloomFilter) else build_bloom(
        corpus, key_col, expected_n=expected_n, fpp=fpp
    )
    flagged = with_bloom_contains(new_df, bf, key_col, "__in_corpus")
    return flagged.filter(
        F.col("__in_corpus").isNull() | ~F.col("__in_corpus")
    ).drop("__in_corpus")
