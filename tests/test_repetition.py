"""The Arrow repetition-stats kernel against golden values on
adversarial texts — empty docs, whitespace-class edge cases (tab/VT/FF
that Java \\s splits on but SQL trim does not strip), unicode incl.
non-BMP, duplicate-heavy and tie-heavy shapes, and nulls — recorded from
the higher-order-function column fold it replaced, and against the
DuckDB oracle SQL on random documents."""

from __future__ import annotations

import pandas as pd
import pytest

from geotables_jl_spark.functions import textstats as TS

ADVERSARIAL = [
    "",
    " ",
    "\t\t",
    "\n",
    "\n\n\n",
    "a",
    "a a a a",
    "a b a b a",  # bigram "a b" x2 beats words
    "aa b\naa b\naa b",  # dup lines + repeated bigram
    "x\ny\nx\ny\nz",
    "one two\tthree\x0bfour\x0cfive\rsix",  # full Java \s class
    " lead and trail ",
    "naïve café naïve café",  # multibyte chars, repeated bigram
    "\U0001F600 \U0001F600 word",  # non-BMP: 1 char both engines
    "line\n\nline\n\n",  # empty-line dup class
    "w " * 50,  # one hot word
    "p q r s t u v w x y z " * 3,  # repeated long bigrams
    "Tie tie TIE Tie",  # case-sensitive classes
    None,
]


#: (doc_id, n_lines, n_dup_lines, dup_line_chars, line_chars, n_words,
#:  word_chars, top_word_chars, top_bigram_chars) per ADVERSARIAL row
GOLDEN = [
    (0, 1, 0, 0, 0, 0, 0, 0, 0),
    (1, 1, 0, 0, 1, 0, 0, 0, 0),
    (2, 1, 0, 0, 2, 0, 0, 0, 0),
    (3, 2, 2, 0, 0, 0, 0, 0, 0),
    (4, 4, 4, 0, 0, 0, 0, 0, 0),
    (5, 1, 0, 0, 1, 1, 1, 1, 0),
    (6, 1, 0, 0, 7, 4, 4, 4, 9),
    (7, 1, 0, 0, 9, 5, 5, 3, 6),
    (8, 3, 3, 12, 12, 6, 9, 6, 12),
    (9, 5, 4, 4, 5, 5, 5, 2, 6),
    (10, 1, 0, 0, 27, 6, 22, 5, 10),
    (11, 1, 0, 0, 16, 3, 12, 5, 9),
    (12, 1, 0, 0, 21, 4, 18, 10, 20),
    (13, 1, 0, 0, 8, 3, 6, 4, 6),
    (14, 5, 5, 8, 8, 2, 8, 8, 9),
    (15, 1, 0, 0, 100, 50, 50, 50, 147),
    (16, 1, 0, 0, 66, 33, 33, 3, 9),
    (17, 1, 0, 0, 15, 4, 12, 6, 7),
    # NULL text: NULL stats, but no bigram mass
    (18, None, None, None, None, None, None, None, 0),
]


def test_arrow_matches_hof_columns(spark):
    rows = [(i, t) for i, t in enumerate(ADVERSARIAL)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = TS.repetition_stats_arrow(df).orderBy("doc_id")
    assert got.columns == ["doc_id", *TS.REPETITION_COLS]
    assert [tuple(r) for r in got.collect()] == GOLDEN


def test_arrow_matches_on_random_docs(spark):
    import random

    import duckdb

    import __spark_entry__ as E

    rng = random.Random(7)
    vocab = ["the", "cat", "sat", "on", "mat", "a", "bb", "ccc", "dddd", "é"]
    docs = []
    for i in range(200):
        n_lines = rng.randint(0, 6)
        lines = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 8)))
            for _ in range(n_lines)
        ]
        # force duplicate lines sometimes
        if lines and rng.random() < 0.5:
            lines.append(rng.choice(lines))
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(tuple(r) for r in TS.repetition_stats_arrow(df).collect())

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    want = sorted(con.sql(E.oracle_sql()["repetition_stats"]).fetchall())
    assert got == want


def test_output_name_clash_raises(spark):
    df = spark.createDataFrame([(0, "a b", 3)], "doc_id long, text string, n_lines long")
    with pytest.raises(ValueError, match="n_lines"):
        TS.repetition_stats_arrow(df, keep=("doc_id", "n_lines"))
    assert TS.repetition_stats_arrow(df).columns == ["doc_id", *TS.REPETITION_COLS]
