"""Temporal join operators Spark lacks natively: as-of join and range join
helpers.

asof_join (backward, inclusive) is implemented as the scalable
union + window formulation, not a per-row subquery:

1. tag left rows side=1, right rows side=0, union on (by, ts, side, payload)
2. one shuffle: window partitioned by `by`, ordered by (ts, side)
3. every left row reads `last(right payload, ignorenulls=True)` over the
   preceding frame — i.e. the latest right row with right.ts <= left.ts
   (equal timestamps match because side 0 sorts before side 1)
4. keep side=1 rows

Cost is a single shuffle on the join key and a linear window scan — the
same shape as sessionization, so it survives 100× data (per-key streams are
processed independently; skewed keys hit the usual window-skew mitigations).
Right rows should be unique per (by, ts) for determinism — pre-aggregate
duplicates (the query layer does) exactly as DuckDB's ASOF JOIN expects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tag_sides(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    l_payload: list[str],
    tiebreaks: list[str],
) -> tuple[DataFrame, DataFrame]:
    """(l_tag, r_tag): both sides in one union-ready shape — `by`, `__ts`,
    `__side` (1 left, 0 right), the left payload (null on right rows), the
    right tiebreaks as `__tb_<i>` (null on left rows) and the right payload
    struct `__p` (the right ts as `__rts` plus `right_cols`; null on left
    rows)."""
    payload = F.struct(
        F.col(right_ts).alias("__rts"),
        *[F.col(c).alias(c) for c in right_cols],
    )
    r_tag = right.select(
        *by,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in l_payload if c != left_ts],
        F.lit(None).cast(left.schema[left_ts].dataType).alias(left_ts),
        *[F.col(c).alias(f"__tb_{i}") for i, c in enumerate(tiebreaks)],
        payload.alias("__p"),
    )
    l_tag = left.select(
        *by,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in l_payload if c != left_ts],
        F.col(left_ts),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__tb_{i}")
            for i, c in enumerate(tiebreaks)
        ],
        F.lit(None).cast(r_tag.schema["__p"].dataType).alias("__p"),
    )
    return l_tag, r_tag


def _project_match(
    out: DataFrame,
    by: list[str],
    l_payload: list[str],
    right_cols: list[str],
    tolerance_seconds: int | None,
    include_matched_ts: bool,
) -> DataFrame:
    """The left rows of `out` with their matched right payload `__m`
    (nulled past `tolerance_seconds` from the left `__ts`) projected to
    `asof_<col>` columns."""
    m_ts = F.col("__m").getField("__rts")
    if tolerance_seconds is not None:
        # timestamp keys compare in integer microseconds; plain numeric
        # keys compare raw (tolerance then reads in the key's own units)
        if dict(out.dtypes)["__ts"].startswith("timestamp"):
            gap = F.abs(F.unix_micros(F.col("__ts")) - F.unix_micros(m_ts))
            # precompute in Python: an INT literal times 1e6 overflows
            # int32 under ANSI for tolerances over ~35 minutes
            tol = F.lit(int(tolerance_seconds) * 1_000_000).cast("long")
        else:
            gap = F.abs(F.col("__ts") - m_ts)
            tol = F.lit(tolerance_seconds)
        out = out.withColumn(
            "__m", F.when(m_ts.isNotNull() & (gap <= tol), F.col("__m"))
        )
    extra = [m_ts.alias("asof_matched_ts")] if include_matched_ts else []
    return out.select(
        *by,
        *[F.col(c) for c in l_payload],
        *extra,
        *[F.col("__m").getField(c).alias(f"asof_{c}") for c in right_cols],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: int | None = None,
    tiebreak_cols: list[str] | tuple[str, ...] = (),
    include_matched_ts: bool = False,
) -> DataFrame:
    """Inclusive as-of join: append, to every left row, the payload of the
    latest right row with right_ts <= left_ts (direction='backward') or the
    earliest right row with right_ts >= left_ts (direction='forward')
    within the same `by` group (nulls when no match — left-join
    semantics). Same single-shuffle union + window plan either way; only
    the tie-order of left vs right at equal timestamps and the frame
    direction flip.

    `tolerance_seconds` bounds the lookback/lookahead (pandas merge_asof
    parity): a matched right row farther than the tolerance nulls out —
    the matched ts rides along in the same window pick, so the bound
    costs one integer comparison, not a second join.

    `tiebreak_cols` makes same-instant right duplicates deterministic
    (backward: the LAST by tiebreak wins; forward: the first) — without
    it, pre-aggregate duplicates per (by, ts) exactly as DuckDB's ASOF
    JOIN expects. The whole right payload (matched ts + every right col)
    is ONE struct through ONE window pick, so the matched columns always
    come from the SAME right row even under duplicates.

    `include_matched_ts` appends `asof_matched_ts` (the matched right
    row's timestamp) for gap/age computations downstream."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    if tolerance_seconds is not None and tolerance_seconds < 0:
        raise ValueError("tolerance_seconds must be >= 0")
    right_cols = right_cols or [c for c in right.columns if c not in (*by, right_ts)]
    l_payload = [c for c in left.columns if c not in (*by,)]
    tiebreaks = list(tiebreak_cols)

    l_tag, r_tag = _tag_sides(
        left, right, by, left_ts, right_ts, right_cols, l_payload, tiebreaks
    )
    if direction == "backward":
        # right rows (side 0) sort before left at equal ts -> inclusive;
        # ascending tiebreaks so `last` picks the greatest duplicate
        order = [F.col("__ts"), F.col("__side")]
        order += [F.asc(f"__tb_{i}") for i in range(len(tiebreaks))]
        w = (
            Window.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        pick = lambda c: F.last(F.col(c), ignorenulls=True)  # noqa: E731
    else:
        # forward: left rows sort before right at equal ts, frame looks
        # ahead; ascending tiebreaks so `first` picks the least duplicate
        order = [F.col("__ts"), (1 - F.col("__side"))]
        order += [F.asc(f"__tb_{i}") for i in range(len(tiebreaks))]
        w = (
            Window.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        pick = lambda c: F.first(F.col(c), ignorenulls=True)  # noqa: E731
    matched = l_tag.unionByName(r_tag).withColumn("__m", pick("__p").over(w))
    out = matched.filter(F.col("__side") == 1)
    return _project_match(
        out, by, l_payload, right_cols, tolerance_seconds, include_matched_ts
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    bucket_seconds: int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    tolerance_seconds: int | None = None,
    tiebreak_cols: list[str] | tuple[str, ...] = (),
    include_matched_ts: bool = False,
) -> DataFrame:
    """Backward as-of join with HOT-KEY mitigation: the plain asof_join
    windows on the entity key alone, so one whale key (a bot user, a
    default id) serializes its entire history onto one task — and AQE
    skew splitting cannot help inside a window partition. This variant
    bounds each task to one (key, time-bucket):

    1. per-(by, bucket) window — the same union + last(ignorenulls)
       pick, but partitions are key x bucket_seconds slices, so a whale
       key splits across as many tasks as it spans buckets;
    2. a per-(by, bucket) summary (latest right payload in the bucket,
       deterministic lexicographic struct max over (ts, tiebreaks)) —
       ONE row per key x bucket, so even the whale contributes only
       #buckets rows to the cross-bucket carry window on the key;
    3. left rows with no in-bucket match take the carry-in (the latest
       right payload of any EARLIER bucket) via an equi-join back on
       (by, bucket).

    Identical results to asof_join(direction='backward') — the
    equivalence and whale-beats-plain-window tests pin it. Trade-off:
    two extra narrow stages (summary agg + tiny carry window + carry
    join) versus one; use the plain form unless a key exceeds roughly a
    task's worth of rows (key_skew_report is the preflight — SCALING.md
    notes the threshold). Same-instant right duplicates not separated by
    `tiebreak_cols` should be pre-aggregated, as in asof_join."""
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be > 0")
    if tolerance_seconds is not None and tolerance_seconds < 0:
        raise ValueError("tolerance_seconds must be >= 0")
    right_cols = right_cols or [c for c in right.columns if c not in (*by, right_ts)]
    l_payload = [c for c in left.columns if c not in (*by,)]
    tiebreaks = list(tiebreak_cols)

    l_tag, r_tag = _tag_sides(
        left, right, by, left_ts, right_ts, right_cols, l_payload, tiebreaks
    )
    u = l_tag.unionByName(r_tag)
    if dict(u.dtypes)["__ts"].startswith("timestamp"):
        bucket = F.floor(F.unix_micros(F.col("__ts")) / F.lit(int(bucket_seconds) * 1_000_000))
    else:
        bucket = F.floor(F.col("__ts") / F.lit(bucket_seconds))
    u = u.withColumn("__b", bucket.cast("long"))

    # phase 1: in-bucket pick — the plain backward window, but partitioned
    # by (key, bucket) so no task sorts more than one bucket of one key
    order = [F.col("__ts"), F.col("__side")]
    order += [F.asc(f"__tb_{i}") for i in range(len(tiebreaks))]
    w_in = (
        Window.partitionBy(*by, "__b")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("__m", F.last(F.col("__p"), ignorenulls=True).over(w_in))

    # phase 2 (bucket-granular frames only — never the corpus): the
    # latest right payload per (key, right-bucket) as a deterministic
    # lexicographic struct max, then for every (key, LEFT-bucket) the
    # last right summary of any STRICTLY earlier bucket via the same
    # union + window trick on the bucket axis. Even the whale key
    # contributes only #buckets rows here, so the key-partitioned carry
    # window is trivially small.
    rb = r_tag.withColumn("__b", bucket.cast("long")).groupBy(*by, "__b").agg(
        F.max(
            F.struct(
                F.col("__ts"),
                *[F.col(f"__tb_{i}") for i in range(len(tiebreaks))],
                F.col("__p").alias("__p"),
            )
        ).alias("__s")
    )
    lb = u.filter(F.col("__side") == 1).select(*by, "__b").distinct()
    lbt = lb.withColumn("__s", F.lit(None).cast(rb.schema["__s"].dataType)).withColumn(
        "__lb", F.lit(0)
    )
    rbt = rb.withColumn("__lb", F.lit(1))
    # left-bucket rows sort BEFORE right summaries at the same bucket, so
    # the preceding frame sees strictly-earlier-bucket summaries only
    # (same-bucket rights are phase 1's job)
    w_carry = (
        Window.partitionBy(*by)
        .orderBy("__b", "__lb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        lbt.unionByName(rbt)
        .withColumn("__c", F.last(F.col("__s"), ignorenulls=True).over(w_carry))
        .filter((F.col("__lb") == 0) & F.col("__c").isNotNull())
        .select(*by, "__b", F.col("__c").getField("__p").alias("__c"))
    )

    # phase 3: equi-join the carry back on (key, bucket). The big side
    # already hash-partitions on exactly these keys out of the phase-1
    # window, and the carry side is bucket-granular — AQE broadcasts it
    # when small.
    out = (
        matched.filter(F.col("__side") == 1)
        .join(carry, [*by, "__b"], "left")
        .withColumn("__m", F.coalesce(F.col("__m"), F.col("__c")))
    )
    return _project_match(
        out, by, l_payload, right_cols, tolerance_seconds, include_matched_ts
    )
