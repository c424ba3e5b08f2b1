"""Ordered-funnel operator: per-entity earliest qualifying timestamp of
each step in a sequence, where step k counts only AFTER the entity's
step k-1 time.

The single-shuffle formulation: every step is a conditional min-window
over the SAME partitionBy(entity) spec, so Spark repartitions the events
once and evaluates all the passes JVM-side on the sorted runs — no
per-step self-joins or rescans of the event table. This is the shape a
product-analytics engine runs over trillions of events; the only wide
operation is the one hash exchange on the entity key.

Semantics (strict ordering): step k's time is the MINIMUM event time
strictly after the entity's step k-1 time among events matching step
k's predicate. An entity that never reaches step k-1 has NULL for every
later step (NULL comparisons propagate). Events are not consumed — one
event can satisfy several steps' predicates if the times work out.

Reference parity: the reference has no event analytics; this extends
the engine's events surface (queries/events_q.py, SURVEY §2.10).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def funnel_times(
    events: DataFrame,
    steps: Sequence[tuple[str, Column]],
    entity_col: str = "user_id",
    ts_col: str = "ts",
    max_gap_seconds: int | None = None,
) -> DataFrame:
    """One row per entity: (entity, t_<step1>, t_<step2>, ...) — the
    earliest qualifying time of each ordered step, NULL from the first
    step the entity never reached.

    `max_gap_seconds` adds the conversion-window constraint every
    product funnel eventually needs: step k must land within the gap
    AFTER step k-1 (strictly after, at most gap later) or it doesn't
    count — a purchase three weeks after the click is attribution noise,
    not conversion. Same single-shuffle plan; the bound is one more
    integer-microsecond predicate inside the conditional min."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    names = [name for name, _ in steps]
    if len(set(names)) != len(names):
        # duplicates would silently collide on t_<name> (withColumn
        # replaces) and corrupt the prev-step ordering chain
        raise ValueError(f"duplicate step names in funnel: {names}")
    w = Window.partitionBy(entity_col)
    t = F.col(ts_col)
    df = events
    prev: str | None = None
    out_cols = []
    for name, pred in steps:
        col_name = f"t_{name}"
        if prev is None:
            cond = pred
        else:
            cond = pred & (t > F.col(prev))
            if max_gap_seconds is not None:
                cond = cond & (
                    F.unix_micros(t) - F.unix_micros(F.col(prev))
                    <= max_gap_seconds * 1_000_000
                )
        df = df.withColumn(col_name, F.min(F.when(cond, t)).over(w))
        out_cols.append(col_name)
        prev = col_name
    return df.groupBy(entity_col).agg(
        *[F.min(c).alias(c) for c in out_cols]
    )


def debounce_flag(
    entity_cols: Sequence[str],
    ts_col: str = "ts",
    within_seconds: int = 120,
    tiebreak_cols: Sequence[str] = ("event_id",),
) -> Column:
    """TRUE for events the same entity emitted less than `within_seconds`
    after its previous event — double-clicks, retry storms, at-least-once
    delivery echoes.

    Lag-vs-previous-EVENT on purpose: debouncing against the previous
    KEPT event is a sequential recurrence (not window-expressible, and at
    scale it serializes per key); the lag formulation is the standard
    streaming-telemetry debounce and costs ONE shuffle on the entity
    keys. Microsecond integer arithmetic, no floats."""
    w = Window.partitionBy(*entity_cols).orderBy(
        F.asc(ts_col), *[F.asc(c) for c in tiebreak_cols]
    )
    prev = F.lag(ts_col).over(w)
    return prev.isNotNull() & (
        F.unix_micros(F.col(ts_col)) - F.unix_micros(prev)
        < within_seconds * 1_000_000
    )


def debounce(
    events: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str = "ts",
    within_seconds: int = 120,
    tiebreak_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Drop debounced events (see debounce_flag); schema passes through."""
    return (
        events.withColumn(
            "__debounced",
            debounce_flag(entity_cols, ts_col, within_seconds, tiebreak_cols),
        )
        .filter(~F.col("__debounced"))
        .drop("__debounced")
    )


def compile_funnel_steps(
    specs: Sequence[dict], value_col: str = "value"
) -> list[tuple[str, Column]]:
    """Compile the engine-portable restricted step form — {"name",
    "event_type", optional "min_value"/"max_value"} — into batch Column
    predicates. The spec IS the whitelist — no eval, the same discipline
    as llm/ops.py::eval_validator: only type equality and inclusive value
    bounds are expressible, which is exactly what a per-row state fold
    can evaluate, so a portable config stays runnable by an incremental
    engine.

    Arbitrary SQL `condition` steps remain batch-only by construction;
    the YAML layer rejects mixing the two forms in one funnel."""
    out: list[tuple[str, Column]] = []
    for s in specs:
        if "event_type" not in s:
            raise ValueError(
                f"portable funnel step needs 'event_type': {s.get('name', s)!r}"
            )
        pred = F.col("event_type") == F.lit(s["event_type"])
        if s.get("min_value") is not None:
            pred = pred & (F.col(value_col) >= F.lit(float(s["min_value"])))
        if s.get("max_value") is not None:
            pred = pred & (F.col(value_col) <= F.lit(float(s["max_value"])))
        out.append((s["name"], pred))
    return out


def funnel_rollup(per_entity: DataFrame, step_names: Sequence[str]) -> DataFrame:
    """Collapse funnel_times output to one row of step counts and
    step-to-step conversion ratios (exact-count double divisions). A ratio
    whose upstream step no entity reached is explicitly NULL (nullif-guarded
    divisor) rather than engine-dependent divide-by-zero behavior."""
    aggs = [F.count(F.lit(1)).alias("n_entities")]
    for name in step_names:
        aggs.append(F.count(f"t_{name}").alias(f"reached_{name}"))
    for a, b in zip(step_names, step_names[1:]):
        aggs.append(
            (
                F.count(f"t_{b}").cast("double")
                / F.nullif(F.count(f"t_{a}"), F.lit(0))
            ).alias(f"{a}_to_{b}")
        )
    return per_entity.agg(*aggs)
