"""Streaming data-quality monitoring: the expectations publish gate
(operators/expectations.py) evaluated per micro-batch and appended to a
parquet quality log — how an always-on ingest watches its own health
(violation trends, bad-batch alerting) instead of gating only at
publish time.

Semantics: each rule is evaluated over THAT BATCH's rows (row-local
rules and uniqueness are per-batch scope; cross-batch uniqueness is the
key-store problem, not a screen). Row-local violation counts are
additive across batches, so the log's per-rule sums equal the
batch-operator counts over the union — the equivalence the test pins.

Idempotency: the log is written with deltastore.write_batch_slot, so a
replayed micro-batch (foreachBatch is at-least-once) rewrites its own
batch_id partition instead of appending duplicates.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from etl_poc_spark.operators.deltastore import write_batch_slot
from etl_poc_spark.operators.expectations import expectation_report


def expectation_log_batch(
    batch_df: DataFrame,
    batch_id: int,
    rules: list[dict[str, Any]],
    log_dir: str,
    refs: dict[str, DataFrame] | None = None,
) -> None:
    """foreachBatch body (run it with deltastore.foreach_batch_writer,
    passing rules/log_dir/refs as keywords): evaluate `rules` on the
    micro-batch and upsert the report rows into the quality log under
    this batch_id. Read the log with spark.read.parquet(log_dir) — one
    report row per (rule, batch)."""
    write_batch_slot(expectation_report(batch_df, rules, refs), log_dir, batch_id)


from etl_poc_spark._serde import register_by_value as _rbv  # noqa: E402

_rbv(__name__)
