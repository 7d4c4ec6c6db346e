"""Gopher-style document quality filtering — one map-only pass.

Not in the reference (GeoTables.jl has no text surface); this is the
training-data-pipeline gate that decides which crawled pages enter the
corpus, composed from signals the engine already computes:

- the text-core integer components (chars / tokens / stopword hits) and
- the Gopher repetition signals (duplicate-line mass, most-common word /
  2-gram char mass),

as two Arrow UDFs over the text column in ONE projection, so Spark
evaluates both in a single Python node that ships only ``text`` — scan
→ kernels → codegen rule tail, zero shuffles at any scale. The
rule thresholds follow the published Gopher rules (Rae et al. 2021,
"Scaling Language Models: ... Gopher", App. A) where this engine has the
exact signal, with two documented substitutions: the symbol-to-word rule
uses this engine's non-[0-9A-Za-z ] char ratio, and the alpha-word rule
is folded into the stopword-hit minimum (both are crude-crawl-junk
detectors; the thresholds are keyword arguments either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotables_jl_spark.functions.textstats import repetition_udf, text_core_udf


def gopher_quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_stop_hits: int = 2,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_word_char_frac: float = 0.20,
    max_top_bigram_char_frac: float = 0.18,
) -> DataFrame:
    """Per-document quality verdict: one row per input row with each
    rule's boolean, the integer signals it was computed from, and
    ``keep`` = AND of all rules. Null/empty text fails the word-count
    rule and is kept=false (never null), so the output partitions the
    corpus exactly in two."""
    rep = df.select(
        id_col,
        text_core_udf(text_col).alias("__core"),
        repetition_udf(text_col).alias("__rep"),
    ).select(id_col, "__core.*", "__rep.*")

    nw = F.col("n_words").cast("double")
    wc = F.col("word_chars").cast("double")
    nl = F.col("n_lines").cast("double")
    lc = F.col("line_chars").cast("double")
    nch = F.col("n_chars").cast("double")

    def _safe(num, den):
        # NULL inputs (null text) stay NULL so the rule coalesces to
        # False; a genuine zero denominator reads as ratio 0.0
        return F.when(den > 0, num / den).when(den.isNotNull(), F.lit(0.0))

    rules = {
        "r_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "r_mean_word_len": (_safe(wc, nw) >= min_mean_word_len)
        & (_safe(wc, nw) <= max_mean_word_len),
        "r_symbol_ratio": _safe(F.col("nonclean_chars").cast("double"), nch)
        <= max_symbol_ratio,
        "r_stopwords": F.col("stop_hits") >= min_stop_hits,
        "r_dup_lines": _safe(F.col("n_dup_lines").cast("double"), nl)
        <= max_dup_line_frac,
        "r_dup_line_chars": _safe(F.col("dup_line_chars").cast("double"), lc)
        <= max_dup_line_char_frac,
        "r_top_word": _safe(F.col("top_word_chars").cast("double"), wc)
        <= max_top_word_char_frac,
        "r_top_bigram": _safe(F.col("top_bigram_chars").cast("double"), wc)
        <= max_top_bigram_char_frac,
    }
    keep = F.lit(True)
    for expr in rules.values():
        keep = keep & F.coalesce(expr, F.lit(False))
    return rep.select(
        id_col,
        F.col("n_words"),
        F.col("stop_hits"),
        *[F.coalesce(e, F.lit(False)).alias(name) for name, e in rules.items()],
        keep.alias("keep"),
    )
