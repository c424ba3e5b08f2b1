"""Exact substring-duplication coverage operator (ExactSubstr, Lee et al.
2021, arXiv:2107.06499) — the computation behind
queries/spandedup_q.py::duplicate_span_coverage and the `span_dedup`
YAML pipeline op. See the query module docstring for the full design
rationale (distributed window-hash inverted index instead of a global
suffix array).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def span_coverage(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", window: int = 8
) -> DataFrame:
    """Per-document duplicated-span coverage: (id, n_tokens,
    covered_tokens, dup_coverage) where covered_tokens is the interval
    union of all `window`-token spans that appear verbatim in ANOTHER
    document.

    Hash-only explode (id, start, md5) — the shingle blow-up class, bodies
    never re-cross the wire; one groupBy(hash) inverted index; one lead()
    window per doc. Exact integer arithmetic throughout."""
    d = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), "\\s+"), lambda w: w != ""
        ).alias("arr"),
    )
    wins = (
        d.where(F.size("arr") >= window)
        .select(
            id_col,
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(arr) - {window}),"
                    f" i -> concat_ws(' ', slice(arr, i + 1, {window})))"
                )
            ).alias("start", "win"),
        )
        .select(id_col, "start", F.md5(F.col("win")).alias("h"))
    )
    # r16 optimization (guide §2.4): the duplicate verdict is one window
    # pass over the hash partition — countDistinct(id) >= 2 over a group
    # is exactly min(id) != max(id) — instead of groupBy(h) + a semi-join
    # back onto `wins`. The old shape executed the expensive window-hash
    # explode TWICE (once per join side; the exchanges differ, so Spark
    # could not reuse them — plans/r16/duplicate_span_coverage_before.txt
    # shows both Generate subtrees) and paid an extra shuffle + broadcast;
    # now the explode runs once and shuffles once, on h.
    hw = Window.partitionBy("h")
    shared = (
        wins.select(
            id_col,
            "start",
            F.min(id_col).over(hw).alias("__min_id"),
            F.max(id_col).over(hw).alias("__max_id"),
        )
        .where(F.col("__min_id") != F.col("__max_id"))
        .select(id_col, "start")
    )
    lead_w = Window.partitionBy(id_col).orderBy("start")
    cov = (
        shared.withColumn("nxt", F.lead("start").over(lead_w))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(
                    F.col("nxt").isNull() | (F.col("nxt") - F.col("start") >= window),
                    F.lit(window),
                ).otherwise(F.col("nxt") - F.col("start"))
            ).alias("covered_tokens")
        )
    )
    n_tok = F.size("arr")
    covered = F.coalesce(F.col("covered_tokens"), F.lit(0))
    return d.join(cov, id_col, "left").select(
        id_col,
        n_tok.cast("long").alias("n_tokens"),
        covered.cast("long").alias("covered_tokens"),
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise(covered.cast("double") / n_tok.cast("double"))
        .alias("dup_coverage"),
    )


def span_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    keep_first: bool = False,
) -> DataFrame:
    """ExactSubstr's OUTPUT step (Lee et al. 2021, arXiv:2107.06499 §4.1):
    rewrite each document with its duplicated spans CUT — the deduped
    corpus itself, not just the coverage stats. A token position is cut
    when it lies inside a `window`-token span that appears verbatim
    (case-insensitively) in at least one OTHER document — the same flag
    rule as `span_coverage`, so `removed_tokens` here equals its
    `covered_tokens` exactly (pytest-pinned). By default every copy is
    cut (the paper's released pipeline also removes all occurrences);
    `keep_first=True` keeps the copy in the smallest doc id — the
    remove-all-but-one variant, still deterministic.

    Output, one row per input document:
        (id, n_tokens, removed_tokens, dedup_text)

    Spark-first shape, designed for 100 TB:
    - the window explode carries ONLY (id, start, 16-byte md5) — document
      bodies never enter the shingle shuffle;
    - the duplicate verdict is one groupBy(hash) with map-side combine;
    - overlapping/adjacent flagged spans merge with classic island
      detection (same-width windows: a new island starts exactly when
      start - lag(start) > window) — one window shuffle on doc id;
    - each doc's merged intervals collect into a tiny sorted array that
      joins back to the doc row, and the rebuilt text is one pure-Column
      `aggregate` fold slicing the token array between intervals — no
      UDF, no token-level explode, and the text crosses the wire exactly
      once (in the final join, unavoidable: the output IS text).

    Reference parity: the reference dedups nothing
    (airflow/dags/zara_hybrid_etl.py:149-154 re-ingests whole papers) —
    north-star training-data surface per the brief."""
    w = int(window)
    if w <= 0:
        raise ValueError("window must be positive")
    d = _token_arrays(df, id_col, text_col)
    wins = _window_hashes(d, id_col, w)
    # r16 optimization (guide §2.4, mirrors span_coverage): duplicate
    # verdict + first-holder id in ONE window pass over the hash partition
    # (countDistinct(id) >= 2 ⟺ min(id) != max(id); __first_id = min(id))
    # instead of groupBy(h) + join — the window-hash explode used to run
    # twice (once per join side) and is the operator's dominant compute.
    hw = Window.partitionBy("h")
    flagged = (
        wins.select(
            id_col,
            "start",
            F.min(id_col).over(hw).alias("__first_id"),
            F.max(id_col).over(hw).alias("__max_id"),
        )
        .where(F.col("__first_id") != F.col("__max_id"))
    )
    if keep_first:
        flagged = flagged.where(F.col(id_col) != F.col("__first_id"))
    return _rebuild_without_spans(d, flagged.select(id_col, "start"), id_col, w)


def _token_arrays(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, arr): original-case whitespace tokens of the trimmed body."""
    return df.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.col(text_col)), "\\s+"), lambda t: t != ""
        ).alias("arr"),
    )


def _window_hashes(d: DataFrame, id_col: str, w: int) -> DataFrame:
    """(id, start, h) for every sliding w-token window. The duplicate
    MATCH is on the lowercased window (lower() is per-character, so
    lowering the joined window string == joining lowered tokens —
    identical to span_coverage's convention); `arr` keeps original case
    for the rebuild."""
    return (
        d.where(F.size("arr") >= w)
        .select(
            id_col,
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(arr) - {w}),"
                    f" i -> md5(lower(concat_ws(' ', slice(arr, i + 1, {w})))))"
                )
            ).alias("start", "h"),
        )
    )


def _rebuild_without_spans(
    d: DataFrame, flagged: DataFrame, id_col: str, w: int
) -> DataFrame:
    """span_removal's rebuild: merge the flagged (id, start) windows into disjoint intervals (island
    detection — same-width windows, so a new island starts exactly when
    start - lag(start) > w), collect each doc's intervals into a tiny
    sorted array, and rebuild the text with one pure-Column aggregate
    fold slicing the token array between intervals."""
    ord_w = Window.partitionBy(id_col).orderBy("start")
    lag_start = F.lag("start").over(ord_w)
    isl = F.sum(
        F.when(lag_start.isNull() | (F.col("start") - lag_start > w), 1).otherwise(0)
    ).over(ord_w)
    intervals = (
        flagged.withColumn("isl", isl)
        .groupBy(id_col, "isl")
        .agg(
            F.min("start").alias("s"),
            (F.max("start") + F.lit(w)).alias("e"),
        )
    )
    iv_arr = intervals.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("ivs")
    )
    # rebuild: fold over the merged, disjoint, sorted intervals, appending
    # the token slice between the previous interval's end and this one's
    # start; the finisher appends the tail. slice() with length 0 is empty,
    # so back-to-back intervals cost nothing.
    rebuilt = F.expr(
        "array_join(aggregate(ivs,"
        " named_struct('prev', 0, 'acc', cast(array() as array<string>)),"
        " (st, iv) -> named_struct("
        "   'prev', cast(iv.e as int),"
        "   'acc', concat(st.acc, slice(arr, st.prev + 1, iv.s - st.prev))),"
        " st -> concat(st.acc, slice(arr, st.prev + 1, size(arr) - st.prev))"
        "), ' ')"
    )
    removed = F.expr("aggregate(ivs, 0L, (a, iv) -> a + iv.e - iv.s)")
    return d.join(iv_arr, id_col, "left").select(
        F.col(id_col),
        F.size("arr").cast("long").alias("n_tokens"),
        F.when(F.col("ivs").isNull(), F.lit(0))
        .otherwise(removed)
        .cast("long")
        .alias("removed_tokens"),
        F.when(F.col("ivs").isNull(), F.array_join(F.col("arr"), " "))
        .otherwise(rebuilt)
        .alias("dedup_text"),
    )


from etl_poc_spark._serde import register_by_value as _rbv  # noqa: E402

_rbv(__name__)
