"""Keyed snapshot diff (CDC between two table versions): given two
snapshots of a keyed table, classify every key as inserted / deleted /
changed / unchanged and show the before/after values. The audit
primitive for "what did this batch actually change" on a 100-TB
dimension or feature table.

Scale shape: ONE full-outer hash join on the key columns (the only wide
operation; co-partitioned aggregates upstream reuse the same exchange
when the snapshots derive from groupBys on the key), with all value
comparisons as null-safe Column expressions inside codegen. The summary
is a metadata-weight aggregate of the diff frame.

Contract: keys must be unique within each snapshot (the CDC snapshot
invariant — enforce upstream with expectations' `unique` rule); with
duplicate keys a full-outer join would fan out row pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """One row per key present in either snapshot:
    (keys..., status, changed_cols, old_<c>..., new_<c>...).

    status: 'inserted' (new only), 'deleted' (old only), 'changed' (any
    compare column differs, null-safe), 'unchanged'. changed_cols lists
    the differing columns (empty array unless status='changed').
    compare_cols defaults to every shared non-key column."""
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in key_cols]
    if not compare_cols:
        raise ValueError("no compare columns (nothing shared beyond the keys)")

    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in key_cols],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in key_cols],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    cond = None
    for k in key_cols:
        eq = F.col(f"__ok_{k}") == F.col(f"__nk_{k}")
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")

    in_old = F.col(f"__ok_{key_cols[0]}").isNotNull()
    in_new = F.col(f"__nk_{key_cols[0]}").isNotNull()
    differs = [
        F.when(
            ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")), F.lit(c)
        )
        for c in compare_cols
    ]
    changed_cols = F.array_compact(F.array(*differs))
    status = (
        F.when(~in_old, F.lit("inserted"))
        .when(~in_new, F.lit("deleted"))
        .when(F.size(changed_cols) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        *[
            F.coalesce(F.col(f"__ok_{k}"), F.col(f"__nk_{k}")).alias(k)
            for k in key_cols
        ],
        status.alias("status"),
        F.when(in_old & in_new, changed_cols)
        .otherwise(F.array().cast("array<string>"))
        .alias("changed_cols"),
        *[F.col(f"old_{c}") for c in compare_cols],
        *[F.col(f"new_{c}") for c in compare_cols],
    )


def diff_summary(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """One row of exact counts over the diff:
    (n_inserted, n_deleted, n_changed, n_unchanged)."""
    d = table_diff(old, new, key_cols, compare_cols)
    return d.agg(
        *[
            F.coalesce(
                F.sum((F.col("status") == s).cast("long")), F.lit(0)
            ).cast("bigint").alias(f"n_{s}")
            for s in ("inserted", "deleted", "changed", "unchanged")
        ]
    )
