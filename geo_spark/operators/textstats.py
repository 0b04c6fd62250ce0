"""Text analysis operators: token stats, quality score, language ID,
winnowed document fingerprints. All SQL-expressible (JVM-side,
oracle-checkable) except the winnowing window minimum, a vectorized pandas
UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# tiny per-language stopword lists for the n-gram heuristic language ID
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "nl": ["de", "het", "een", "en", "van"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
}


# BPE-style pre-tokenizer classes (the GPT-2 pattern's regex family,
# simplified to the lookahead-free subset both Java regex and RE2 share):
# a run of letters / digits / other-non-space, each with an optional
# leading space. Leftmost-first alternation is identical in both engines,
# so counts hash-match the DuckDB oracle.
BPE_LIKE_PATTERN = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_chars, n_tokens, n_bpe_tokens, n_spaces, avg_token_len).

    Pure SQL: whitespace tokens plus a BPE-ish subword-pretokenizer count
    (``BPE_LIKE_PATTERN`` match count — the standard LLM-pipeline proxy for
    token budgets before a real BPE vocabulary is applied).
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    n_bpe = F.size(F.expr(f"regexp_extract_all({text_col}, '{BPE_LIKE_PATTERN}', 0)"))
    n_spaces = n_chars - F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
    avg_len = F.when(n_tokens > 0, (n_chars - n_spaces).cast("double") / n_tokens).otherwise(
        F.lit(0.0)
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        n_spaces.alias("n_spaces"),
        avg_len.alias("avg_token_len"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1]: length band + punctuation + stopwords.

    The components mirror common web-corpus filters (C4-style): documents
    too short/long, with too little punctuation, or with no stopwords score
    low. Pure SQL; deterministic.
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    toks = F.filter(F.split(text, " "), lambda x: x != "")
    n_tokens = F.size(toks)
    n_periods = F.size(F.split(text, r"\.")) - 1
    stop_hits = sum(
        (F.array_contains(toks, w).cast("int") for w in _LANG_MARKERS["en"]),
        F.lit(0),
    )
    len_score = F.when((n_tokens >= 10) & (n_tokens <= 10000), F.lit(1.0)).otherwise(F.lit(0.3))
    punct_score = F.when(n_periods > 0, F.lit(1.0)).otherwise(F.lit(0.5))
    stop_score = F.when(stop_hits > 0, F.lit(1.0)).otherwise(F.lit(0.5))
    score = (len_score + punct_score + stop_score) / F.lit(3.0)
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_periods.alias("n_periods"),
        stop_hits.alias("stop_hits"),
        score.alias("quality"),
    )


def language_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID (n-gram heuristic): argmax lang of marker hits.

    Pure SQL: per-language hit counts from array_contains votes; ties go to
    the lexicographically first language (deterministic).
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    scores = []
    for lang in sorted(_LANG_MARKERS):
        hits = sum(
            (F.array_contains(toks, w).cast("int") for w in _LANG_MARKERS[lang]),
            F.lit(0),
        )
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return df.select(
        F.col(id_col),
        best["lang"].alias("pred_lang"),
        best["hits"].alias("marker_hits"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    window: int = 4,
) -> DataFrame:
    """(id, fp_hash) rows — token-level winnowing, pure SQL end to end.

    Classic winnowing (Schleimer et al., SIGMOD'03) over token n-grams:
    hash every n-gram (``md5_60`` — JVM-side and DuckDB-reproducible), slide
    a ``window`` over consecutive gram hashes keeping each window's minimum,
    output the distinct selected hashes. Guarantees any shared run of
    ``window + ngram - 1`` tokens between two documents contributes at
    least one shared fingerprint — the document-level containment sketch.

    Tokenize/gram/hash run JVM-side; the sliding window-min is one numpy
    ``sliding_window_view().min`` per row (Catalyst's interpreted
    ``slice``+``array_min`` lambda is ~10× slower on realistic docs).
    """
    from geo_spark.operators.dedup import gram_hashes_col

    gh = gram_hashes_col(text_col, ngram, hasher="md5_60")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def win_min(hs: pd.Series) -> pd.Series:
        out = []
        for h in hs:
            arr = np.asarray(h, dtype=np.int64)
            if arr.size == 0:
                out.append(np.empty(0, dtype=np.int64))
            elif arr.size < window:
                out.append(np.unique(arr.min(keepdims=True)))
            else:
                sl = np.lib.stride_tricks.sliding_window_view(arr, window)
                out.append(np.unique(sl.min(axis=1)))
        return pd.Series(out)

    from geo_spark.operators.dedup import ensure_parallelism

    return ensure_parallelism(df, heavy=True).select(
        F.col(id_col), F.explode(win_min(gh)).alias("fp_hash")
    )
