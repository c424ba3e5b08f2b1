"""Declarative data-quality expectations — the validation suite a 100-TB
ingest runs before publishing a batch (the Great-Expectations-shaped
check layer, re-expressed as Spark aggregates).

Rule vocabulary (each produces one report row of exact counts):

  {"type": "not_null",   "column": c}
  {"type": "unique",     "columns": [c, ...]}
  {"type": "range",      "column": c, "min": x, "max": y}   (inclusive,
                         either bound optional; NULL never violates —
                         pair with not_null to reject nulls)
  {"type": "in_set",     "column": c, "values": [...]}      (NULL exempt)
  {"type": "regex",      "column": c, "pattern": p}         (NULL exempt)
  {"type": "foreign_key","column": c, "ref": <name>, "ref_column": r}
                         (NULL exempt — SQL FK semantics)

Scale shape: every ROW-LOCAL rule (not_null/range/in_set/regex) compiles
to a conditional count inside ONE aggregate pass over the table —
map-side combined, one job however many rules. Each `unique` rule is one
groupBy on its key set counting rows in groups of size >= 2; each
`foreign_key` is a left_anti against the (broadcastable, distinct) ref
key column. The report itself is a union of 1-row aggregates — KBs.

Counts are exact integers, so the whole report is hash-checkable against
a SQL oracle (the engine discipline: validation that can't be verified
is noise).

Reference parity: the reference validates LLM outputs per-row
(`utils/validation.py` suitability/validity predicates — covered by
P4/P5); this operator extends validation to the dataset level a
replacement engine needs before publishing curated corpora.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _row_local_violation(rule: dict[str, Any]) -> F.Column:
    """Boolean violation expression for a row-local rule."""
    t = rule["type"]
    c = F.col(rule["column"])
    if t == "not_null":
        return c.isNull()
    if t == "range":
        v = F.lit(False)
        if rule.get("min") is not None:
            v = v | (c < F.lit(rule["min"]))
        if rule.get("max") is not None:
            v = v | (c > F.lit(rule["max"]))
        return c.isNotNull() & v
    if t == "in_set":
        return c.isNotNull() & ~c.isin(*rule["values"])
    if t == "regex":
        return c.isNotNull() & ~c.rlike(rule["pattern"])
    raise ValueError(f"not a row-local rule: {t!r}")


def _rule_name(rule: dict[str, Any]) -> str:
    t = rule["type"]
    col = rule.get("column") or ",".join(rule.get("columns", []))
    return f"{t}:{col}"


def expectation_report(
    df: DataFrame,
    rules: list[dict[str, Any]],
    refs: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Evaluate `rules` against `df`; returns one row per rule:
    (rule, n_rows, n_violations, passed), ordered by rule name.

    `refs` supplies the frames foreign_key rules name via "ref"."""
    if not rules:
        raise ValueError("expectation_report needs at least one rule")
    names = [_rule_name(r) for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rules: {names}")
    refs = refs or {}

    row_local = [r for r in rules if r["type"] in ("not_null", "range", "in_set", "regex")]
    others = [r for r in rules if r["type"] not in ("not_null", "range", "in_set", "regex")]

    reports: list[DataFrame] = []
    if row_local:
        # ONE aggregate pass: every row-local rule is a conditional sum
        aggs = [F.count(F.lit(1)).alias("n_rows")] + [
            F.sum(_row_local_violation(r).cast("long")).alias(f"__v{i}")
            for i, r in enumerate(row_local)
        ]
        wide = df.agg(*aggs)
        # pivot the 1-row wide aggregate to one report row per rule with a
        # stack expression — still a single job
        pairs = ", ".join(
            f"'{_rule_name(r)}', __v{i}" for i, r in enumerate(row_local)
        )
        reports.append(
            wide.selectExpr(
                f"stack({len(row_local)}, {pairs}) AS (rule, n_violations)", "n_rows"
            ).select("rule", "n_rows", F.coalesce("n_violations", F.lit(0)).alias("n_violations"))
        )

    for r in others:
        t = r["type"]
        if t == "unique":
            keys = r["columns"]
            groups = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__c"))
            rep = groups.agg(
                F.coalesce(F.sum("__c"), F.lit(0)).alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(F.col("__c") >= 2, F.col("__c")).otherwise(0)),
                    F.lit(0),
                ).alias("n_violations"),
            )
        elif t == "foreign_key":
            ref = refs.get(r["ref"])
            if ref is None:
                raise ValueError(f"foreign_key rule references unknown frame {r['ref']!r}")
            c = F.col(r["column"])
            ref_keys = ref.select(F.col(r["ref_column"]).alias(r["column"])).distinct()
            orphans = df.where(c.isNotNull()).join(
                F.broadcast(ref_keys), r["column"], "left_anti"
            )
            rep = df.agg(F.count(F.lit(1)).alias("n_rows")).crossJoin(
                orphans.agg(F.count(F.lit(1)).alias("n_violations"))
            )
        else:
            raise ValueError(f"unknown rule type {t!r}")
        reports.append(rep.select(F.lit(_rule_name(r)).alias("rule"), "n_rows", "n_violations"))

    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out.select(
        "rule",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_violations").cast("bigint").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("rule")
