"""Slowly-changing-dimension (SCD Type 2) history and point-in-time joins.

The warehouse problem a latest-row-per-key MERGE does NOT solve: it
keeps only the latest row per key (Type 1 — history destroyed); an ML
feature store or audit-grade dimension needs every historical value
with its validity interval, and facts must join to the attribute value
IN EFFECT at the fact's own timestamp (a point-in-time join — the
leakage-free feature lookup).

Representation: one row per (key, value) episode —
    (key, attrs..., valid_from, valid_to)   valid_to NULL = current row,
    interval semantics [valid_from, valid_to).

Both operators are single-shuffle window/join shapes:
- scd2_from_changes: change-log -> episodes. One key-partitioned window
  (lag to drop no-op repeats, lead for valid_to).
- pit_join: fact rows pick the episode whose interval covers the fact
  timestamp. Expressed as the backward as-of shape (union + one window)
  from operators/temporal.py rather than an interval theta-join, so the
  plan is ONE shuffle on the key — no range-join blowup.

Reference parity: the reference has no dimension management; this
extends the engine's table-maintenance tier (SURVEY §2 north-star,
beside layout/diff).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_from_changes(
    df: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Change-log -> SCD2 episodes: consecutive rows per key with the
    SAME attribute values collapse into one episode; each episode's
    valid_to is the next episode's valid_from (NULL for the current
    one). Ordering ties break on `tiebreak_cols` for determinism."""
    order = [F.asc(ts_col)] + [F.asc(c) for c in tiebreak_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    attrs = [F.col(c) for c in attr_cols]
    changed = F.lit(False)
    for c in attr_cols:
        prev = F.lag(c).over(w)
        changed = changed | ~prev.eqNullSafe(F.col(c))
    first = F.lag(ts_col).over(w).isNull()
    episodes = (
        df.withColumn("__new_episode", first | changed)
        .where(F.col("__new_episode"))
        .drop("__new_episode")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return episodes.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    )


def pit_join(
    facts: DataFrame,
    history: DataFrame,
    key_cols: Sequence[str],
    fact_ts_col: str,
    attr_cols: Sequence[str],
) -> DataFrame:
    """Point-in-time join: each fact row gets the attribute values whose
    episode covers the fact timestamp ([valid_from, valid_to), NULLs
    when no episode does — facts before the key's first episode).

    Shape: the backward as-of union trick — history rows and fact rows
    interleave on ONE (key, ts) window; last-non-null carries each
    episode's attrs forward onto the facts that follow it; the
    valid_to check is implied because scd2 histories are GAPLESS (each
    episode's valid_to is exactly the next's valid_from — the
    scd2_from_changes invariant), so a newer episode always
    overwrites the carry. One shuffle, no interval theta-join."""
    keys = list(key_cols)
    h = history.select(
        *keys,
        F.col("valid_from").alias("__ts"),
        F.lit(0).alias("__is_fact"),
        F.col("valid_to").alias("__vt"),
        F.struct(*[F.col(c) for c in attr_cols]).alias("__attrs"),
    )
    fact_cols = [c for c in facts.columns]
    f = facts.select(
        *[F.col(c) for c in fact_cols],
        F.col(fact_ts_col).alias("__ts"),
        F.lit(1).alias("__is_fact"),
        F.lit(None).cast(dict(history.dtypes)["valid_to"]).alias("__vt"),
        F.lit(None).cast(h.schema["__attrs"].dataType).alias("__attrs"),
    )
    # Ordering at one instant: dim rows sort BEFORE facts (an episode
    # starting exactly at the fact timestamp is in effect — inclusive
    # valid_from); among SAME-instant episodes (a key changed twice at
    # one timestamp) the empty [t, t) episode sorts before the one that
    # actually covers anything (valid_to ascending, open NULL last), so
    # the carry lands on the episode the interval semantics would pick.
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.asc("__ts"), F.asc("__is_fact"), F.asc_nulls_last("__vt"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    union = h.select(
        *keys,
        *[F.lit(None).cast(dict(facts.dtypes)[c]).alias(c) for c in fact_cols if c not in keys],
        "__ts",
        "__is_fact",
        "__vt",
        "__attrs",
    ).unionByName(
        f.select(
            *keys,
            *[F.col(c) for c in fact_cols if c not in keys],
            "__ts",
            "__is_fact",
            "__vt",
            "__attrs",
        )
    )
    out = union.withColumn(
        "__eff", F.last("__attrs", ignorenulls=True).over(w)
    ).where(F.col("__is_fact") == 1)
    return out.select(
        *fact_cols,
        *[F.col("__eff").getField(c).alias(c) for c in attr_cols],
    )
