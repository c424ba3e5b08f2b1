"""Behavioral / profiling analytics operators: activity streaks, event
transition matrices, last-touch attribution, RFM scores, time-weighted
averages, ABC classes, grouping sets, column profiles, association rules
and PPS sampling.

Each algorithm has exactly one body here. The registered queries
(queries/behavior_q.py, behavior2_q.py, profile_q.py) call it with their
table's column names and add their own projection or rollup; the YAML
pipeline ops (plans/yaml_pipeline.py) call it with the op's parameters.
No function here sorts its output: ordering belongs to the caller, so a
query plan gains no sort it did not ask for.

All oracle-exact by the house arithmetic discipline: integer microsecond
time math, DECIMAL(18,2) value accumulation (events.value and TPC-H
prices are 2-decimal), single int/int or decimal/int double divisions at
the output boundary, and deterministic window orderings with explicit
tiebreaks. Windows that need ONE global frame over an aggregated
(entity-grained, not event-grained) frame partition on
`isNull()` of the key — a non-foldable single-group key that keeps null
keys apart from every other key and works for any key type, so no
event-volume data ever crosses a global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def daily_streaks(events: DataFrame, entity_col: str = "user_id", ts_col: str = "ts") -> DataFrame:
    """Gaps-and-islands: (entity, longest_streak, n_active_days,
    n_streaks) — each entity's consecutive-active-day runs. The island
    anchor is day minus the day's per-entity rank — equal for every day
    of one consecutive run — so the whole computation is one window + two
    aggregates on a per-entity partitioning that holds a few hundred
    distinct DATES per entity regardless of event volume (the distinct
    collapses first). No self-joins, no driver loops."""
    days = events.select(entity_col, F.to_date(ts_col).alias("__day")).distinct()
    w = Window.partitionBy(entity_col).orderBy("__day")
    runs = (
        days.withColumn("__anchor", F.date_sub(F.col("__day"), F.row_number().over(w)))
        .groupBy(entity_col, "__anchor")
        .agg(F.count(F.lit(1)).alias("__run"))
    )
    return runs.groupBy(entity_col).agg(
        F.max("__run").alias("longest_streak"),
        F.sum("__run").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


def transition_matrix(
    events: DataFrame, entity_col: str = "user_id", state_col: str = "event_type",
    ts_col: str = "ts", tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix of entity state sequences:
    (from_type, to_type, n_transitions, p) — count and conditional
    probability of each state bigram. One shuffle on the entity for the
    lag window, then a states²-cell aggregate; the probability is a
    single int/int double division. The behavioral fingerprint a
    product-analytics pipeline monitors for drift (streaming twin:
    streaming/stateful.py::stateful_transitions)."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, tiebreak_col)
    seq = events.select(
        F.lag(state_col).over(w).alias("from_type"),
        F.col(state_col).alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n_transitions"))
    wf = Window.partitionBy("from_type")
    return t.withColumn("n_from", F.sum("n_transitions").over(wf)).select(
        "from_type", "to_type", "n_transitions",
        (F.col("n_transitions").cast("double") / F.col("n_from")).alias("p"),
    )


def last_touch_attribution(
    events: DataFrame, entity_col: str = "user_id", state_col: str = "event_type",
    ts_col: str = "ts", tiebreak_col: str = "event_id",
    conversion_type: str = "purchase", within_seconds: int = 3600,
) -> DataFrame:
    """Last-touch attribution: (channel, n_conversions) — each conversion
    credits the entity's most recent non-conversion event within
    `within_seconds` before it, else 'direct'. Both the crediting type
    and its timestamp come from the SAME conditional last-value window
    (one entity shuffle serves both), and the window predicate is
    integer-microsecond arithmetic. The marketing-attribution query every
    event pipeline grows."""
    w = (
        Window.partitionBy(entity_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_conv = F.when(F.col(state_col) != conversion_type, F.col(state_col))
    nc_ts = F.when(F.col(state_col) != conversion_type, F.col(ts_col))
    seq = events.select(
        F.col(state_col),
        F.col(ts_col),
        F.last(non_conv, ignorenulls=True).over(w).alias("__prev_type"),
        F.last(nc_ts, ignorenulls=True).over(w).alias("__prev_ts"),
    ).where(F.col(state_col) == conversion_type)
    channel = F.when(
        F.col("__prev_ts").isNotNull()
        & (
            F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("__prev_ts"))
            <= within_seconds * 1_000_000
        ),
        F.col("__prev_type"),
    ).otherwise(F.lit("direct"))
    return (
        seq.select(channel.alias("channel"))
        .groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n_conversions"))
    )


def rfm_scores(
    df: DataFrame, entity_col: str = "user_id", ts_col: str = "ts",
    value_col: str = "value", n_tiles: int = 5,
) -> DataFrame:
    """RFM segmentation: (entity, r_score, f_score, m_score) — recency /
    frequency / monetary n-tiles per entity (score 1 = best). Ordering
    ties break on the entity so the ntile assignment is deterministic in
    both engines; monetary accumulates in DECIMAL. The n-tile windows run
    on the entity-grained aggregate (dim-sized, not event-sized) under
    the module's single-group key — the same bounded-frame idiom as
    dates_q."""
    m = df.groupBy(entity_col).agg(
        F.max(ts_col).alias("recency"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("monetary"),
    )
    one = Window.partitionBy(F.col(entity_col).isNull())
    return m.select(
        entity_col,
        *(
            F.ntile(n_tiles).over(one.orderBy(F.desc(c), entity_col)).alias(f"{s}_score")
            for c, s in (("recency", "r"), ("frequency", "f"), ("monetary", "m"))
        ),
    )


def time_weighted_average(
    events: DataFrame, entity_col: str = "user_id", group_col: str = "event_type",
    ts_col: str = "ts", value_col: str = "value", tiebreak_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average value per group: (group, n_weighted, twap,
    plain_mean). Each event's value is held until the entity's next
    event, so the weight is the exact microsecond duration (an entity's
    last event has no duration and drops out). Products accumulate as
    DECIMAL(38,2) — value is 2-decimal and the duration an integer, so
    the product is exact and the sum order-independent; one double
    division at the end, rounded to 9 places (the house
    big-decimal-to-double seam policy). Compare with the unweighted mean
    to read dwell-time bias directly."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, tiebreak_col)
    seq = events.select(
        group_col,
        F.col(value_col).cast("decimal(18,2)").alias("__v"),
        (F.unix_micros(F.lead(ts_col).over(w)) - F.unix_micros(F.col(ts_col))).alias("__dur_us"),
    ).where(F.col("__dur_us").isNotNull())
    return seq.groupBy(group_col).agg(
        F.count("__dur_us").alias("n_weighted"),
        F.round(
            F.sum((F.col("__v") * F.col("__dur_us")).cast("decimal(38,2)")).cast("double")
            / F.sum("__dur_us").cast("double"),
            9,
        ).alias("twap"),
        F.round(
            F.sum(F.col("__v").cast("decimal(38,2)")).cast("double") / F.count("__v"),
            9,
        ).alias("plain_mean"),
    )


def abc_classes(
    df: DataFrame, key_col: str, value_col: str, a_pct: int = 80, b_pct: int = 95
) -> DataFrame:
    """ABC / Pareto classification: (key, total_value, abc_class). A =
    keys whose cumulative value share stays within a_pct%, B to b_pct%, C
    the tail. `total_value` is the per-key DECIMAL sum — callers sum it
    and cast once at the boundary. The share thresholds compare as
    INTEGER-DECIMAL cross-products (cum*100 <= total*a_pct), so class
    boundaries are division-free and engine-exact — no float share ever
    decides a class. The running sum is one window over the key-grained
    aggregate under the module's single-group key; ties break on the key
    for a deterministic cut."""
    rev = df.groupBy(key_col).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("total_value")
    )
    one = Window.partitionBy(F.col(key_col).isNull())
    running = one.orderBy(F.desc("total_value"), F.asc(key_col))
    cum = F.sum("total_value").over(running.rowsBetween(Window.unboundedPreceding, 0))
    total = F.sum("total_value").over(one)
    abc = (
        F.when(cum * 100 <= total * a_pct, "A")
        .when(cum * 100 <= total * b_pct, "B")
        .otherwise("C")
    )
    return rev.select(key_col, "total_value", abc.alias("abc_class"))


def grouping_sets(df: DataFrame, sets: Sequence[Sequence[str]], aggs: Sequence[Column]) -> DataFrame:
    """General GROUPING SETS: (group cols..., grouping_id, aggs...) —
    multiple grains in ONE Expand + aggregate pass; `sets` is a list of
    column lists ([] = grand total). grouping_id is the standard bitmask
    over the group columns in first-appearance order, which
    disambiguates real NULLs from rolled-up cells."""
    group_cols = list(dict.fromkeys(c for s in sets for c in s))
    return df.groupingSets([list(s) for s in sets], *group_cols).agg(
        F.grouping_id().cast("int").alias("grouping_id"), *aggs
    )


def _render(c: str, kind: str) -> Column:
    if kind == "money":
        return F.col(c).cast("decimal(18,2)")
    if kind == "date":
        return F.col(c).cast("date")
    return F.col(c)


def column_profile(df: DataFrame, columns: Sequence[str | tuple[str, str]]) -> DataFrame:
    """Long-format column profile: (column_name, n_nulls, n_distinct,
    min_str, max_str) per column — null count, exact distinct count,
    min/max rendered to strings. `columns` holds names or (name, render)
    pairs; render 'money' goes through DECIMAL(18,2), 'date' through
    DATE, and a bare name renders plain.

    TWO aggregate passes compute every metric — one Expand + aggregate
    for all countDistinct, one plain aggregate for nulls/min/max —
    cross-joined as 1-row frames; the wide row is then unpivoted
    driver-free with stack(). Mixing the countDistinct with the regular
    aggregates in ONE aggregate forces Catalyst's Expand plan to evaluate
    every regular aggregate on every row × (N+1) expansion groups —
    measured 2.7s solo on the 6-column orders profile, vs 0.59s for the
    distinct-only aggregate plus 0.20s for the regular-only aggregate.
    Splitting them and cross-joining the two 1-row results (broadcast,
    free) computes the identical values ~3x faster; at 100 TB it is the
    same two scans the Expand plan already cost, minus the row blowup
    carrying every live aggregate buffer."""
    cols = [(c, "plain") if isinstance(c, str) else c for c in columns]
    nd_aggs = [F.countDistinct(F.col(c)).alias(f"{c}__nd") for c, _ in cols]
    rest_aggs = []
    for c, kind in cols:
        r = _render(c, kind)
        rest_aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.min(r).cast("string").alias(f"{c}__min"),
            F.max(r).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*rest_aggs).crossJoin(F.broadcast(df.agg(*nd_aggs)))
    stack_args = ", ".join(
        f"'{c}', `{c}__nulls`, `{c}__nd`, `{c}__min`, `{c}__max`" for c, _ in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_nulls, n_distinct, min_str, max_str)"
    )


def association_rules(
    baskets: DataFrame, basket_col: str, item_col: str,
    min_support_count: int = 5, top_n: int = 20,
) -> DataFrame:
    """Market-basket association rules: (item_a, item_b, n_both, support,
    confidence, lift) for the top_n co-occurring item pairs by count
    (ties on item_a, item_b) — the retail / recommendation staple.

    Scale discipline: the min-support prefilter prunes the long tail
    BEFORE the pair self-join — the A-priori downward-closure step that
    keeps the join linear-ish in the frequent subset rather than
    quadratic in baskets; the join itself is an equi-join on the basket.
    Ratios are single int/int double divisions (lift's integer
    cross-products stay well under 2^53)."""
    bi = baskets.select(basket_col, item_col).distinct()
    freq = (
        bi.groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("__n_item"))
        .where(F.col("__n_item") >= min_support_count)
    )
    fbi = bi.join(freq, item_col)
    a = fbi.select(basket_col, F.col(item_col).alias("item_a"), F.col("__n_item").alias("__n_a"))
    b = fbi.select(basket_col, F.col(item_col).alias("item_b"), F.col("__n_item").alias("__n_b"))
    pairs = (
        a.join(b, basket_col)
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(
            F.count(F.lit(1)).alias("n_both"),
            F.first("__n_a").alias("__n_a"),
            F.first("__n_b").alias("__n_b"),
        )
    )
    # the top-n cut depends only on (n_both, item_a, item_b) — take it
    # BEFORE attaching the basket-count scalar, so the denominator
    # broadcast-joins a top_n-row frame (a TakeOrderedAndProject, never
    # a global sort of the pair space)
    top = pairs.orderBy(F.desc("n_both"), "item_a", "item_b").limit(top_n)
    # 1-row basket-count scalar x the top_n-row frame: the whitelisted
    # 1-row-broadcast scalar join (bm25_search / vocab_stats class), not
    # a window attach. Baskets are counted off the RAW input (same value
    # — every basket of the distinct frame has >= 1 item) so the distinct
    # frame isn't computed twice.
    n_row = baskets.groupBy().agg(F.countDistinct(basket_col).alias("__n"))
    top = top.crossJoin(F.broadcast(n_row))
    return top.select(
        "item_a", "item_b", "n_both",
        F.round(F.col("n_both").cast("double") / F.col("__n"), 9).alias("support"),
        F.round(F.col("n_both").cast("double") / F.col("__n_a"), 9).alias("confidence"),
        F.round(
            (F.col("n_both") * F.col("__n")).cast("double")
            / (F.col("__n_a") * F.col("__n_b")).cast("double"),
            9,
        ).alias("lift"),
    )


def pps_systematic(
    df: DataFrame, weight: Column, id_col: str = "doc_id", k: int = 10,
    stratify_col: str | None = None,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: the rows of
    every stratum with positive total weight, plus `__w` (the row's
    integer weight) and the boolean `__picked`. Per stratum (or over the
    whole frame), rows are walked in deterministic md5(id) order and a
    row is picked when its cumulative weight crosses a k-th of the
    stratum total — rows are selected with probability proportional to
    weight WITHOUT replacement, the standard way to sample pretraining
    shards so token mass (not doc count) is preserved. Integer boundary
    stepping ((cum*k)/total floors), no float stride, so both engines
    pick identical rows. One window shuffle on the stratum (the
    token_budget_sample prefix-sum idiom); zero-weight rows can never
    cross a boundary and are never picked."""
    part = [stratify_col] if stratify_col else [F.lit(1).isNull()]
    base = df.select(
        "*", weight.alias("__w"), F.md5(F.col(id_col).cast("string")).alias("__h")
    )
    wcum = Window.partitionBy(*part).orderBy("__h").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(*part)
    c = base.select(
        "*",
        F.sum("__w").over(wcum).alias("__cum"),
        F.sum("__w").over(wall).alias("__total"),
    ).where(F.col("__total") > 0)
    picked = F.floor(F.col("__cum") * k / F.col("__total")) > F.floor(
        (F.col("__cum") - F.col("__w")) * k / F.col("__total")
    )
    return c.withColumn("__picked", picked).drop("__h", "__cum", "__total")
