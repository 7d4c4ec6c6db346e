"""text_core_arrow's integer components, the ``text_stat_cols`` codegen
tail and ``shingles_fast`` against golden values. The goldens were
recorded from the higher-order-function / regexp column expressions
these kernels replaced (Spark ``split(trim(text), '\\s+')`` semantics),
including their quirks: SQL trim strips SPACES only, and boundary
empties from non-space whitespace prefixes count as tokens."""

from __future__ import annotations

import hashlib
import json

import duckdb
import pytest
from pyspark.sql import functions as F

from geotables_jl_spark.functions import textstats as TS

ADVERSARIAL = [
    "",
    " ",
    "\t",  # trim keeps it; split -> ['',''] -> 2 tokens (quirk)
    "\tword",  # leading empty counts (quirk)
    "the cat and the hat",
    "THE The the",  # case-folded stopword hits
    "el la de y en",  # Spanish beats English
    "a, b. c!",  # punctuation-heavy
    "naïve café élève",  # unicode chars in nonclean class
    " lead and trail ",
    "le la de et les des",  # French
    "der die das und ist",
    "x" * 500,
    "1 2 3 4 5",
    None,
]

#: (doc_id, n_chars, nonws_chars, nonclean_chars, n_tokens, stop_hits,
#:  s_en, s_es, s_fr, s_de) per ADVERSARIAL row
CORE_GOLDEN = [
    (0, 0, 0, 0, 0, 0, 0, 0, 0, 0),
    (1, 1, 0, 0, 0, 0, 0, 0, 0, 0),
    (2, 1, 0, 1, 2, 0, 0, 0, 0, 0),
    (3, 5, 4, 1, 2, 0, 0, 0, 0, 0),
    (4, 19, 15, 0, 5, 3, 3, 0, 0, 0),
    (5, 11, 9, 0, 3, 3, 3, 0, 0, 0),
    (6, 13, 9, 0, 5, 0, 0, 5, 2, 0),
    (7, 8, 6, 3, 3, 0, 0, 0, 0, 0),
    (8, 16, 14, 4, 3, 0, 0, 0, 0, 0),
    (9, 16, 12, 0, 3, 1, 1, 0, 0, 0),
    (10, 19, 14, 0, 6, 0, 0, 2, 6, 0),
    (11, 19, 15, 0, 5, 0, 0, 0, 0, 5),
    (12, 500, 500, 0, 1, 0, 0, 0, 0, 0),
    (13, 9, 5, 0, 5, 0, 0, 0, 0, 0),
    (14, None, None, None, None, None, None, None, None, None),
]

#: (doc_id, n_tokens, n_bpe, n_chars_txt, punct_r, stop_r, mean_tok,
#:  quality, lang_pred, fp) per non-NULL ADVERSARIAL row
TAILS_GOLDEN = [
    (0, 0, 0, 0, 0.0, 0.0, 0.0, 0.333333, "und", 0),
    (1, 0, 0, 1, 0.0, 0.0, 0.0, 0.333333, "und", 32),
    (2, 2, 0, 1, 1.0, 0.0, 0.0, 0.006667, "und", 9),
    (3, 2, 1, 5, 0.2, 0.0, 2.0, 0.006667, "und", 11967123),
    (4, 5, 5, 19, 0.0, 0.6, 3.0, 0.683333, "en", 577224333),
    (5, 3, 3, 11, 0.0, 1.0, 3.0, 0.676667, "en", 913589574),
    (6, 5, 5, 13, 0.0, 0.0, 1.8, 0.35, "es", 50809119),
    (7, 3, 6, 8, 0.375, 0.0, 2.0, 0.01, "und", 781753905),
    (8, 3, 3, 16, 0.25, 0.0, 4.666667, 0.01, "und", 197885938),
    (9, 3, 3, 16, 0.0, 0.333333, 4.0, 0.676667, "en", 392641851),
    (10, 6, 6, 19, 0.0, 0.0, 2.333333, 0.353333, "fr", 630658658),
    (11, 5, 5, 19, 0.0, 0.0, 3.0, 0.35, "de", 430947143),
    (12, 1, 1, 500, 0.0, 0.0, 500.0, 0.336667, "und", 68960947),
    (13, 5, 5, 9, 0.0, 0.0, 1.0, 0.35, "und", 403607924),
]


def _twin_df(spark):
    rows = [(i, t) for i, t in enumerate(ADVERSARIAL)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_core_components_match_twins(spark):
    got = TS.text_core_arrow(_twin_df(spark)).drop("text").orderBy("doc_id")
    assert got.columns == ["doc_id", *TS.TEXT_CORE_COLS, *[f"s_{l}" for l in TS.LANG_STOPWORDS]]
    assert [tuple(r) for r in got.collect()] == CORE_GOLDEN


def test_driver_tails_match_column_twins(spark):
    """The q_text_stats select over the kernel (``text_stat_cols``, the
    bpe regexp and ``fingerprint_fast``) must reproduce the golden
    ratios, rounding and language ids value-for-value."""
    df = _twin_df(spark).where(F.col("text").isNotNull())
    t = F.col("text")
    st = TS.text_stat_cols()
    got = TS.text_core_arrow(df).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        TS.bpe_token_count(t).cast("long").alias("n_bpe"),
        F.col("n_chars").cast("long").alias("n_chars_txt"),
        F.round(st["punct_ratio"], 6).alias("punct_r"),
        F.round(st["stop_ratio"], 6).alias("stop_r"),
        F.round(st["mean_token_len"], 6).alias("mean_tok"),
        st["quality"].alias("quality"),
        st["lang"].alias("lang_pred"),
        TS.fingerprint_fast(t).alias("fp"),
    ).orderBy("doc_id")
    assert [tuple(r) for r in got.collect()] == TAILS_GOLDEN


SHINGLE_CASES = [
    "the quick brown fox jumps over the lazy dog",
    "a b", "a", "", " ", "   ", None,
    "  leading and trailing  ", "tab\tsep", "line\nbreak",
    "\t lead", "trail \t", "multi   space", "a b c d e f g",
    "\x0b vert", "\r\n crlf mix \r", "ümlaut wörds hëre",
    "dup dup dup dup", "x " * 300,
    "nbsp is not java ws",  # java \s is ASCII-only
]

_EDGE = [["a b"], ["a"], [""], [""], [""], [""]]  # cases 1..6 at every n

#: shingles per SHINGLE_CASES row, for n = 2, 3, 5
SHINGLE_GOLDEN = {
    2: [
        ["the quick", "quick brown", "brown fox", "fox jumps", "jumps over",
         "over the", "the lazy", "lazy dog"],
        *_EDGE,
        ["leading and", "and trailing"], ["tab sep"], ["line break"],
        [" lead"], ["trail "], ["multi space"],
        ["a b", "b c", "c d", "d e", "e f", "f g"],
        [" vert"], [" crlf", "crlf mix", "mix "], ["ümlaut wörds", "wörds hëre"],
        ["dup dup"], ["x x"], ["nbsp is", "is not", "not java", "java ws"],
    ],
    3: [
        ["the quick brown", "quick brown fox", "brown fox jumps", "fox jumps over",
         "jumps over the", "over the lazy", "the lazy dog"],
        *_EDGE,
        ["leading and trailing"], ["tab sep"], ["line break"],
        [" lead"], ["trail "], ["multi space"],
        ["a b c", "b c d", "c d e", "d e f", "e f g"],
        [" vert"], [" crlf mix", "crlf mix "], ["ümlaut wörds hëre"],
        ["dup dup dup"], ["x x x"], ["nbsp is not", "is not java", "not java ws"],
    ],
    5: [
        ["the quick brown fox jumps", "quick brown fox jumps over",
         "brown fox jumps over the", "fox jumps over the lazy", "jumps over the lazy dog"],
        *_EDGE,
        ["leading and trailing"], ["tab sep"], ["line break"],
        [" lead"], ["trail "], ["multi space"],
        ["a b c d e", "b c d e f", "c d e f g"],
        [" vert"], [" crlf mix "], ["ümlaut wörds hëre"],
        ["dup dup dup dup"], ["x x x x x"], ["nbsp is not java ws"],
    ],
}


def test_shingles_fast_bit_parity_with_jvm(spark):
    """shingles_fast against the golden shingle lists of Spark's
    expression semantics: trim strips ASCII spaces only, split keeps
    leading/trailing empty tokens, NULL text yields [''] (concat_ws
    over a NULL array), short docs yield their full token string, dedup
    keeps first-occurrence order."""
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(SHINGLE_CASES)], "id long, t string"
    )
    for n in (2, 3, 5):
        got = {r["id"]: r["s"] for r in df.select("id", TS.shingles_fast(F.col("t"), n).alias("s")).collect()}
        assert [got[i] for i in range(len(SHINGLE_CASES))] == SHINGLE_GOLDEN[n], n


#: sha256 of json.dumps(sorted (doc_id, shingles) pairs) over the sf0.001
#: documents fixture, n=3, recorded from the JVM expression form
FIXTURE_SHINGLES_SHA = "d1f652174918710a0f2bcdd0c1a4dfa464ba7e58cb5b9b56d403d997ad4901de"


def test_shingles_fast_parity_on_documents_fixture(spark):
    import __spark_entry__ as E

    path = "/root/testdata/sf0.001/documents.parquet"
    doc = spark.read.parquet(path)
    got = sorted(
        (r["doc_id"], r["s"])
        for r in doc.select("doc_id", TS.shingles_fast(F.col("text"), 3).alias("s")).collect()
    )
    assert len(got) == 500
    digest = hashlib.sha256(json.dumps(got, ensure_ascii=False).encode()).hexdigest()
    assert digest == FIXTURE_SHINGLES_SHA
    # the DuckDB oracle's shingle expression agrees set-for-set
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = con.sql(
        f"SELECT doc_id, {E._SQL_SHINGLES3} AS sh FROM (SELECT doc_id, {E.SQL_TOKS} AS toks FROM documents)"
    ).fetchall()
    assert {d: sorted(s) for d, s in want} == {d: sorted(s) for d, s in got}



def test_output_name_clash_raises_before_any_job(spark):
    # the documents table carries its own n_chars column
    docs = spark.createDataFrame(
        [(0, "the cat", "en", "web", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sc = spark.sparkContext
    sc.setJobGroup("textcore_clash", "name clash")
    try:
        with pytest.raises(ValueError, match="n_chars"):
            TS.text_core_arrow(docs, keep=("doc_id", "lang", "source", "n_chars"))
        assert not sc.statusTracker().getJobIdsForGroup("textcore_clash")
    finally:
        sc.setJobGroup("", "")
    out = TS.text_core_arrow(docs, keep=("doc_id", "lang", "source"))
    assert out.columns[:4] == ["doc_id", "lang", "source", "text"]
