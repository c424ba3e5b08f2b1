"""Metric derivation: end-to-end metrics from the untraced run, per-layer
metrics from the traced run.

Counters are reported per pass: the work one client iteration over the
workload's whole input does. Each unit has a kind (a query name, or
doc_etl and stream_ingest for etl), and a pass is one unit of every kind,
so the per-pass value of any counter is the sum over kinds of the median
over that kind's units.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.trace import (
    SparkLedger,
    Span,
    Tracer,
    busy_union_s,
    median,
    percentile,
)
from perfbench.workloads import ANALYTICS_QUERIES, NEAR_DUP_QUERIES, PAIR_QUERIES, Result

LLM_NODES = ("MapInPandas", "FlatMapGroupsInPandas")
JOIN_WORDS = ("Join", "CartesianProduct")


def per_pass(units: list[tuple[str, Span]], value) -> float:
    by_kind: dict[str, list[float]] = defaultdict(list)
    for kind, sp in units:
        by_kind[kind].append(float(value(kind, sp)))
    return sum(median(v) for v in by_kind.values()) if by_kind else 0.0


def pass_count(units: list[tuple[str, Span]]) -> float:
    """Pass-equivalents in the run (a pass is one unit of every kind)."""
    kinds = {k for k, _ in units}
    return len(units) / len(kinds) if kinds else 0.0


def batch_latencies(res: Result) -> list[float]:
    """stream_ingest's trigger durations: one per micro-batch that read rows
    (both streaming queries of every pass)."""
    return [b["triggerExecution"] for p in res.extra.get("passes", ()) for b in p["batches"]
            if b["rows"] > 0 and "triggerExecution" in b]


def end_to_end(res: Result, setup_s: float, peak_rss: int) -> dict:
    """The bounded end-to-end metrics every workload reports: {name: (value, unit)}."""
    wall = per_pass(res.units, lambda _k, sp: sp.dur)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "cpu_s": (per_pass(res.units, lambda _k, sp: sp.cpu), "s"),
        "rows_per_s": (res.rows / wall, "1/s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


# the end-to-end figures of one workload each; an end-to-end metric of
# BENCHMARK.json must be reported on every workload and never be 0, so these
# are printed on the details line instead, and the traced run reports them
# as per-layer metrics (0 where they do not apply)
WORKLOAD_ONLY = {
    "batch_latency_p50_s": "s",
    "store_read_s": "s",
    "store_bytes_per_input_byte": "ratio",
    "llm_rows_per_doc": "rows/doc",
}


def workload_specific(res: Result, ledger: SparkLedger | None, run_marks) -> dict:
    """{name: (value, unit)} of the WORKLOAD_ONLY metrics that apply:
    batch_latency_p50_s, store_read_s and store_bytes_per_input_byte when
    the run has stream_ingest units, llm_rows_per_doc when it has doc_etl
    units."""
    out = {}
    if res.extra.get("passes"):
        ps = res.extra["passes"]
        out["batch_latency_p50_s"] = percentile(batch_latencies(res), 50.0)
        out["store_read_s"] = median([p["read_s"] for p in ps])
        out["store_bytes_per_input_byte"] = median([p["store_bytes"] for p in ps]) / res.extra["input_bytes"]
    doc_passes = sum(1 for k, _sp in res.units if k == "doc_etl")
    if doc_passes and ledger is not None:
        llm = llm_counters(ledger, run_marks)
        out["llm_rows_per_doc"] = llm["rows"] / doc_passes / res.extra["docs"]
    return {k: (v, WORKLOAD_ONLY[k]) for k, v in out.items()}


def llm_counters(ledger: SparkLedger, run_marks) -> dict:
    """Totals over every SQL execution of the run that ran an LLM node."""
    tot = defaultdict(float)
    for ex in range(run_marks[0][1], run_marks[1][1]):
        nodes = ledger.nodes(ex, lambda n: n in LLM_NODES)
        if not nodes:
            continue
        tot["executions"] += 1
        for _name, ms in nodes:
            tot["rows"] += ms.get("number of output rows", 0.0)
            tot["run_s"] += ms.get("time to run Python workers", 0.0)
            tot["start_s"] += ms.get("time to start Python workers", 0.0)
            tot["to_python"] += ms.get("data sent to Python workers", 0.0)
            tot["from_python"] += ms.get("data returned from Python workers", 0.0)
    return tot


def _exec_sum(ledger: SparkLedger, sp: Span, want, metric: str) -> float:
    return sum(
        ms.get(metric, 0.0)
        for ex in range(sp.marks0[1], sp.marks1[1])
        for _n, ms in ledger.nodes(ex, want)
    )


def _is_scan(name: str) -> bool:
    return name.startswith("Scan ")


def _is_join(name: str) -> bool:
    return any(w in name for w in JOIN_WORDS)


def per_layer(workload: str, res: Result, tracer: Tracer, ledger: SparkLedger,
              run_marks, cores: int, client) -> dict:
    units = res.units
    n_pass = pass_count(units)
    m: dict[str, float] = {}
    setup = {sp.name: sp.dur for sp in tracer.spans if sp.name in ("session.get_spark", "registry.load_all")}
    m["session.get_spark_s"] = setup.get("session.get_spark", 0.0)
    m["registry.load_all_s"] = setup.get("registry.load_all", 0.0)

    m["io.bytes_read"] = per_pass(units, lambda _k, sp: _exec_sum(ledger, sp, _is_scan, "size of files read"))
    m["io.files_read"] = per_pass(units, lambda _k, sp: _exec_sum(ledger, sp, _is_scan, "number of files read"))
    m["io.scan_s"] = per_pass(units, lambda _k, sp: _exec_sum(ledger, sp, _is_scan, "scan time"))

    def st(sp: Span):
        return ledger.stages_in(sp.marks0[0], sp.marks1[0])

    m["spark.jobs"] = per_pass(units, lambda _k, sp: len(ledger.jobs_in(sp.marks0[0], sp.marks1[0])))
    m["spark.stages"] = per_pass(units, lambda _k, sp: len(st(sp)))
    m["spark.tasks"] = per_pass(units, lambda _k, sp: sum(s.tasks for s in st(sp)))
    m["spark.shuffle_write_bytes"] = per_pass(units, lambda _k, sp: sum(s.shuffle_write for s in st(sp)))
    m["spark.shuffle_read_bytes"] = per_pass(units, lambda _k, sp: sum(s.shuffle_read for s in st(sp)))
    m["spark.spill_bytes"] = per_pass(units, lambda _k, sp: sum(s.spill for s in st(sp)))
    m["spark.executor_run_s"] = per_pass(units, lambda _k, sp: sum(s.run_s for s in st(sp)))
    m["spark.executor_cpu_s"] = per_pass(units, lambda _k, sp: sum(s.cpu_s for s in st(sp)))
    m["spark.gc_s"] = per_pass(units, lambda _k, sp: sum(s.gc_s for s in st(sp)))
    wall = per_pass(units, lambda _k, sp: sp.dur)
    m["spark.busy_ratio"] = m["spark.executor_run_s"] / (wall * cores) if wall else 0.0
    m["spark.driver_only_s"] = per_pass(
        units, lambda _k, sp: sp.dur - busy_union_s(st(sp), sp.w0 * 1e3, sp.w1 * 1e3))

    for q in NEAR_DUP_QUERIES + ANALYTICS_QUERIES:
        mine = [(k, sp) for k, sp in units if k == q]
        m[f"queries.{q}.wall_s"] = per_pass(mine, lambda _k, sp: sp.dur)
        m[f"queries.{q}.jobs"] = per_pass(mine, lambda _k, sp: len(ledger.jobs_in(sp.marks0[0], sp.marks1[0])))
        m[f"queries.{q}.shuffle_write_bytes"] = per_pass(
            mine, lambda _k, sp: sum(s.shuffle_write for s in st(sp)))

    pair_units = [(k, sp) for k, sp in units if k in PAIR_QUERIES]
    m["operators.join_rows_out"] = per_pass(
        pair_units, lambda _k, sp: _exec_sum(ledger, sp, _is_join, "number of output rows"))
    m["operators.pairs_out"] = per_pass(pair_units, lambda _k, sp: sp.out_rows)
    m["operators.pairs_per_join_row"] = (
        m["operators.pairs_out"] / m["operators.join_rows_out"] if m["operators.join_rows_out"] else 0.0)

    m["pins.released"] = client.pins_released / n_pass if n_pass else 0.0
    m["pins.memos_cleared"] = client.memos_cleared / n_pass if n_pass else 0.0

    is_doc = "docs" in res.extra
    llm = llm_counters(ledger, run_marks) if is_doc else defaultdict(float)
    per = n_pass or 1.0
    m["llm.python_rows_in"] = llm["rows"] / per
    m["llm.executions"] = llm["executions"] / per
    m["llm.python_run_s"] = llm["run_s"] / per
    m["llm.python_start_s"] = llm["start_s"] / per
    m["llm.bytes_to_python"] = llm["to_python"] / per
    m["llm.bytes_from_python"] = llm["from_python"] / per
    m["llm.valid_ratio"] = median(res.extra["extract_valid_ratio"]) if is_doc and res.extra.get("extract_valid_ratio") else 0.0

    def span_median(name: str) -> float:
        ds = [sp.dur for sp in tracer.spans if sp.name == name]
        return median(ds) if ds else 0.0

    m["plans.validate_s"] = span_median("plans.validate")
    m["plans.build_s"] = span_median("plans.build")
    cli_spans = [("cli", sp) for sp in tracer.spans if sp.name == "cli.main"]
    m["cli.actions"] = per_pass(cli_spans, lambda _k, sp: sp.marks1[1] - sp.marks0[1])
    m["functions.score_s"] = span_median("functions.score")
    m["sinks.json_s"] = span_median("sinks.json")
    m["sinks.markdown_s"] = span_median("sinks.markdown")
    m["sinks.files_written"] = float(res.extra.get("sink_files", 0))
    m["sinks.bytes_written"] = float(res.extra.get("sink_bytes", 0))

    passes = res.extra.get("passes") or []

    def pmed(f) -> float:
        return median([f(p) for p in passes]) if passes else 0.0

    def live(p):
        return [b for b in p["batches"] if b["rows"] > 0]

    m["streaming.batches"] = pmed(lambda p: len(live(p)))
    m["streaming.rows_per_batch"] = pmed(lambda p: sum(b["rows"] for b in live(p)) / max(1, len(live(p))))
    for name, key in (("add_batch_s", "addBatch"), ("planning_s", "queryPlanning"),
                      ("wal_commit_s", "walCommit"), ("latest_offset_s", "latestOffset")):
        m[f"streaming.{name}"] = pmed(lambda p, key=key: sum(b.get(key, 0.0) for b in p["batches"]))
    m["deltastore.slots"] = pmed(lambda p: p["slots"])
    m["deltastore.files"] = pmed(lambda p: p["store_files"])
    m["deltastore.bytes"] = pmed(lambda p: p["store_bytes"])
    m["deltastore.read_s"] = pmed(lambda p: p["read_s"])
    m["deltastore.compact_s"] = pmed(lambda p: p["compact_s"])
    m["deltastore.files_after_compact"] = pmed(lambda p: p["files_after_compact"])
    m["deltastore.read_after_compact_s"] = pmed(lambda p: p["read_after_compact_s"])
    m["deltastore.store_hit_ratio"] = pmed(lambda p: p["hit_ratio"])

    m.update({k: 0.0 for k in WORKLOAD_ONLY})
    m.update({k: v for k, (v, _u) in workload_specific(res, ledger, run_marks).items()})
    m["trace.wall_s"] = wall
    m["trace.bookkeeping_s"] = tracer.bookkeeping_s / per
    return m

