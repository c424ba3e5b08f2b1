"""Text-analysis operators for training-data pipelines (pure Column exprs).

- token_stats: token count, char counts, mean token length, stopword ratio
- language_score / predict_lang: deterministic n-gram/stopword heuristic
- quality_flags: length/punctuation/stopword based keep-drop signals
- fingerprint: normalized-text content fingerprint (md5 prefix)

All ratios are integer/integer single divisions (exact, engine-portable).
Everything is JVM-side — these run at full scan speed on 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS_EN = ("the", "a", "of", "and", "in", "to", "is")


def n_tokens(col: Column) -> Column:
    from etl_poc_spark.functions.text import word_count

    return word_count(col)


def chars_no_space(col: Column) -> Column:
    return F.length(F.regexp_replace(col, r"\s+", ""))


def mean_token_len(col: Column) -> Column:
    n = n_tokens(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(chars_no_space(col).cast("double") / n.cast("double"))


def stopword_count_expr(text_col: str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    arr = ", ".join("'" + w + "'" for w in stopwords)
    return F.expr(
        f"CASE WHEN trim({text_col}) = '' THEN 0 ELSE "
        f"size(filter(split(trim({text_col}), '\\\\s+'), w -> array_contains(array({arr}), lower(w)))) END"
    )


def fingerprint(col: Column, n_hex: int = 16) -> Column:
    """Content fingerprint: md5 of lowercased, whitespace-collapsed text,
    truncated to `n_hex` hex chars. Rolling-hash-equivalent for exact
    near-normalization dedup keys."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.substring(F.md5(normalized), 1, n_hex)


def predict_lang_expr(text_col: str) -> Column:
    """Deterministic stopword-marker language heuristic. The marker lists
    are tiny and fixed so the same CASE ladder is expressible in the oracle."""
    markers = {
        "en": ("the", "and", "of"),
        "de": ("der", "und", "die"),
        "fr": ("le", "et", "les"),
        "es": ("el", "y", "los"),
    }
    counts = {lang: stopword_count_expr(text_col, words) for lang, words in markers.items()}
    best = (
        F.when((counts["en"] >= counts["de"]) & (counts["en"] >= counts["fr"]) & (counts["en"] >= counts["es"]) & (counts["en"] > 0), F.lit("en"))
        .when((counts["de"] >= counts["fr"]) & (counts["de"] >= counts["es"]) & (counts["de"] > 0), F.lit("de"))
        .when((counts["fr"] >= counts["es"]) & (counts["fr"] > 0), F.lit("fr"))
        .when(counts["es"] > 0, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )
    return best


def compression_ratio_features(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
):
    """(id, n_bytes, n_compressed, compression_ratio) per document via
    DEFLATE (zlib, fixed level) — the low-entropy screen production LLM
    corpora run beside the Gopher rules: highly repetitive or templated
    text compresses far below natural prose (ratios under ~0.3 are the
    usual red flag), and machine-generated spam is exactly the text the
    word-level heuristics miss.

    Arrow-batched pandas UDF (zlib is C-speed and DETERMINISTIC for a
    fixed level — same bytes in, same bytes out, every zlib build), so
    the feature is reproducible but not SQL-expressible: register the
    query rows-only with pinned-value pytests, the same class as the
    image hashes. Ratio = one int/int double division, rounded 9."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_compressed", T.LongType()),
        ]
    )

    def feats(batches):
        import zlib

        for pdf in batches:
            texts = pdf[text_col].fillna("")
            raw = [t.encode("utf-8") for t in texts]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": [len(b) for b in raw],
                    "n_compressed": [
                        len(zlib.compress(b, level)) for b in raw
                    ],
                }
            )

    out = df.select(id_col, text_col).mapInPandas(feats, schema)
    return out.select(
        id_col,
        "n_bytes",
        "n_compressed",
        F.when(
            F.col("n_bytes") > 0,
            F.round(
                F.col("n_compressed").cast("double") / F.col("n_bytes"), 9
            ),
        ).alias("compression_ratio"),
    )
