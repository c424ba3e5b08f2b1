"""Benchmark runner: executes the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
final JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {headline_query: sec, ...}, "sf": ...} — the compact 22-entry
headline map keeps the line inside the driver's ~2000-char tail capture
(the full 221-query map lives in the BENCH_GATE artifact and in an
earlier stdout line).

Execution is forced with the noop sink (full computation, no driver
collect) — the number measures engine throughput, not pandas conversion.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    # relational core
    "pricing_summary",
    "top_revenue_orders",
    "per_group_quota",
    "rollup_sales",
    "running_supplier_revenue",
    # document pipeline (reference surface)
    "doc_quality_score",
    "quality_partition_stats",
    "paper_validation",
    "chunk_documents",
    "token_stats",
    # dedup / similarity (north-star)
    "exact_dedup_groups",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash_near_dup_pairs",
    "embedding_topk",
    "embedding_ivf_topk",
    "embedding_near_dup_pairs",
    # LLM pipeline (stub provider, real mapInPandas machinery)
    "pipeline_e2e_extract_stats",
    # joins at depth
    "local_supplier_volume",
    # events
    "events_hourly",
    "events_sessionize",
    "events_sliding_windows",
]

# Per-query timing = MEDIAN of 3 runs: the first run eats plan compilation /
# codegen / cache warmup, a single best-of can still catch a lucky OS-cache
# hit — the median is the noise-robust round-over-round number.
RUNS_PER_QUERY = 3


# interleave a single-run canary every N queries: the session-level
# start/end canary (r12) proves drift exists but can't localize it — the
# per-window readings let a reader attribute a per-query spike to the
# window's host noise instead of re-timing by hand (r12 verdict ask #4)
CANARY_EVERY = 25

# re-time any query whose fresh median exceeds its previous-round median
# by >1.5x (and by >0.5s absolute — micro-queries are all noise) once
# more before publishing; keep the min of the two medians and record
# both, so no >1.5x artifact outlier ships that an isolated re-run
# contradicts
RETIME_RATIO = 1.5
RETIME_FLOOR_SEC = 0.5


def _noop(df) -> None:
    """Force full computation through the noop sink (no driver collect)."""
    df.write.format("noop").mode("overwrite").save()


def warm(spark, sf_dir: str) -> None:
    """Warm the JVM and parquet footers so per-query numbers measure the plan."""
    from etl_poc_spark import registry

    _noop(registry.QUERIES["pricing_summary"](spark, sf_dir))


def time_query(spark, fn, sf_dir: str, runs: int = RUNS_PER_QUERY) -> tuple[float, list[float]]:
    """(median, per-run seconds) of `runs` noop-sink runs of the query
    `fn`. Pins, process-level model memos and the cache are dropped after
    EVERY run, so runs 2..N pay the full pipeline, training included, as
    run 1 does; otherwise a pinned or trained query's median would
    understate its cold-run cost."""
    from etl_poc_spark.operators.pins import clear_memos, release_pins

    secs: list[float] = []
    for _ in range(runs):
        t0 = time.perf_counter()
        _noop(fn(spark, sf_dir))
        secs.append(time.perf_counter() - t0)
        release_pins()
        clear_memos()
        spark.catalog.clearCache()
    return sorted(secs)[len(secs) // 2], secs


def _canary_once(spark) -> float:
    """One run of the fixed data-independent workload (8M-row range
    scan-agg, pure JVM codegen)."""
    import time as _time

    from pyspark.sql import functions as F

    t0 = _time.perf_counter()
    _noop(
        spark.range(0, 8_000_000)
        .select(
            (F.col("id") % 1000).alias("k"),
            ((F.col("id") * 2654435761) % 2147483647).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.avg("v").alias("a"), F.count("*").alias("c"))
    )
    return _time.perf_counter() - t0


def _calibration(spark) -> float:
    """Host-noise canary: 3-run median of the fixed workload. Recorded at
    the START and END of the sweep so a reader can normalize uniform
    wall-clock drift (r10 +41s, r11 +26s were both host contention —
    each needed a quiet-host rerun to prove it; this field removes that
    bisection)."""
    return round(sorted(_canary_once(spark) for _ in range(3))[1], 3)


def _sorted_gate_artifacts(paths: list[str]) -> list[str]:
    """BENCH_GATE_r{N}.json paths sorted by NUMERIC round — lexicographic
    max regresses at r100 ('r100' < 'r15' as strings), silently
    re-baselining the >1.5x outlier rule to a stale round (ADVICE r14).
    Names the glob admits but the round regex doesn't (BENCH_GATE_r.json,
    BENCH_GATE_rc1.json) are SKIPPED, not crashed on (ADVICE r15: the
    bare `.group(1)` raised AttributeError on any such stray file)."""
    import re as _re

    rounds = {
        p: _re.search(r"_r(\d+)\.json$", os.path.basename(p)) for p in paths
    }
    return sorted(
        (p for p, m in rounds.items() if m is not None),
        key=lambda p: int(rounds[p].group(1)),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from etl_poc_spark import registry
    from etl_poc_spark.operators.pins import release_pins
    from etl_poc_spark.session import get_spark

    registry.load_all()
    spark = get_spark("bench")
    warm(spark, sf_dir)
    cal_start = _calibration(spark)

    # previous ROUND's committed artifact — the baseline for the outlier
    # re-time pass. Default to the newest BENCH_GATE_r{N}.json in the repo,
    # NOT the in-place-overwritten BENCH_GATE.json: the first intra-round
    # bench refresh overwrites the latter, silently resetting the ">1.5x
    # previous-round median" rule's baseline to *this round's own* numbers
    # (r13 verdict "What's wrong #1": audio_feature_stats shipped at 1.59x
    # its r12 value with no re-time entry because of exactly this).
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    prev_path = os.environ.get("SPARK_GRAFT_BENCH_PREV")
    if not prev_path:
        import glob as _glob

        committed = _sorted_gate_artifacts(
            _glob.glob(os.path.join(repo_dir, "BENCH_GATE_r*.json"))
        )
        prev_path = committed[-1] if committed else os.path.join(
            repo_dir, "BENCH_GATE.json"
        )
    prev_timings: dict[str, float] = {}
    prev_calibration: dict = {}
    try:
        with open(prev_path) as fh:
            _prev_doc = json.load(fh)
            prev_timings = _prev_doc.get("timings", {}) or {}
            prev_calibration = _prev_doc.get("calibration", {}) or {}
    except (OSError, ValueError):
        pass

    # every other registered query is benched too (after the headline set),
    # so a regression anywhere in the surface is visible round over round
    names = list(BENCH_QUERIES) + sorted(set(registry.QUERIES) - set(BENCH_QUERIES))

    # fault-isolated per query: one broken query records an {"err": ...}
    # entry and the sweep continues — a single analysis error must never
    # erase the whole round's perf signal (round 4 lost its bench this way)
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    canary_windows: list[dict] = []
    for i, name in enumerate(names):
        if i % CANARY_EVERY == 0:
            canary_windows.append(
                {"at_query": i, "sec": round(_canary_once(spark), 3)}
            )
        fn = registry.QUERIES[name]
        try:
            timings[name] = round(time_query(spark, fn, sf_dir)[0], 3)
        except Exception as exc:  # noqa: BLE001 — record and keep sweeping
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
        # pins/memos/cache are dropped inside time_query's run loop; this
        # trailing sweep only covers the error path (a query that raised
        # mid-run may have left pins behind)
        release_pins()
        spark.catalog.clearCache()

    # outlier re-time pass (r12 verdict ask #4): any query >1.5x its
    # previous-round median gets one more isolated 3-run median; keep the
    # MIN (a transient spike can only inflate a median, not deflate it)
    # and record both readings so the artifact explains itself
    retimed: dict[str, dict] = {}
    for name, sec in sorted(timings.items()):
        prev = prev_timings.get(name)
        if (
            isinstance(prev, (int, float))
            and sec > RETIME_RATIO * prev
            and sec - prev > RETIME_FLOOR_SEC
        ):
            try:
                again = round(time_query(spark, registry.QUERIES[name], sf_dir)[0], 3)
            except Exception:  # noqa: BLE001 — keep the first reading
                continue
            retimed[name] = {"first": sec, "retimed": again, "prev_round": prev}
            timings[name] = min(sec, again)

    # `value` stays the HEADLINE subtotal (the PINNED 22-query set rounds 1
    # and 2 both recorded) so the metric is comparable round over round even
    # as the full-surface sweep grows; the full total is reported alongside
    # A headline query that errored must not silently deflate the
    # round-over-round metric: emit null instead of a too-small total.
    cal_end = _calibration(spark)
    headline_errs = [n for n in BENCH_QUERIES if n in errors]
    headline_total = (
        None if headline_errs else round(sum(timings[n] for n in BENCH_QUERIES), 3)
    )
    full_total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # host-load-normalized headline (r14 verdict ask #4): the sandbox host
    # drifts 1.5-7x between rounds, so a loaded driver host reads as a
    # phantom regression. Normalize by the canary ratio vs the previous
    # COMMITTED round's canary: value_load_normalized = raw / (our canary /
    # their canary). RAW stays the canonical driver metric; the normalized
    # number is the one to compare round-over-round when the ratio != ~1.
    host_load_ratio = None
    value_load_normalized = None
    try:
        prev_canary = (
            float(prev_calibration["start_sec"]) + float(prev_calibration["end_sec"])
        ) / 2.0
        cur_canary = (cal_start + cal_end) / 2.0
        if prev_canary > 0:
            host_load_ratio = round(cur_canary / prev_canary, 3)
            if headline_total is not None and host_load_ratio > 0:
                value_load_normalized = round(headline_total / host_load_ratio, 3)
    except (KeyError, TypeError, ValueError):
        pass
    # the keys the stdout report and the BENCH_GATE artifact share
    report = {
        "metric": "headline_queries_total_wall",
        "value": headline_total,
        "unit": "sec",
        "full_surface_total": full_total,
        "n_queries": len(timings),
        "runs_per_query": RUNS_PER_QUERY,
        "timing": "median",
        "headline_set_size": len(BENCH_QUERIES),
        "headline_incomplete": bool(headline_errs),
        # raw `value` is canonical (what the driver records); the
        # normalized twin divides out measured host load vs the previous
        # committed round's canary so a hot host can't fake a regression
        "value_load_normalized": value_load_normalized,
        "host_load_ratio": host_load_ratio,
        "n_errors": len(errors),
        "sf": float(sf) if sf else sf_dir,
    }
    print(
        json.dumps(
            {
                **report,
                "calibration": {"start_sec": cal_start, "end_sec": cal_end},
                "queries": {**timings, **{n: {"err": e} for n, e in errors.items()}},
            }
        )
    )
    # The driver's tail capture keeps only ~2000 chars, so the FINAL line —
    # the one the driver parses — must stay SMALL: totals only, no per-query
    # map (the r8 compact map was ~4KB and still truncated to parsed:null).
    # The complete per-query timings are persisted to a repo artifact
    # instead ($SPARK_GRAFT_BENCH_OUT, default BENCH_GATE.json — committed
    # per round as BENCH_GATE_r{N}.json, same ritual as ORACLE_GATE logs)
    # so every round's full surface is diffable from git history.
    full_report = {
        **report,
        "calibration": {
            "start_sec": cal_start,
            "end_sec": cal_end,
            "windows": canary_windows,
        },
        # provenance of the re-time baseline, so a reader can verify the
        # outlier pass ran against the previous round's COMMITTED timings
        "prev_artifact": os.path.basename(prev_path),
        "retimed_outliers": retimed,
        "timings": timings,
        "query_errors": {n: e[:200] for n, e in errors.items()},
    }
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_GATE.json"),
    )
    try:
        with open(out_path, "w") as fh:
            json.dump(full_report, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:  # read-only checkout: stdout still has the totals
        print(f"bench: could not write {out_path}: {exc}", file=sys.stderr)
    # r17 (r16 verdict item 2): the driver's PERF comparison needs
    # per-query data in the FINAL line it parses, but the full 221-entry
    # map is what truncated to parsed:null in r8. Compromise: a compact
    # map of the 22 PINNED HEADLINE queries only (~600 bytes — fits the
    # driver's ~2000-char tail with room to spare); the complete surface
    # stays in the committed BENCH_GATE artifact.
    headline_q = {
        n: timings[n] for n in BENCH_QUERIES if n in timings
    }
    final = ("metric", "value", "unit", "full_surface_total", "n_queries",
             "n_errors", "headline_incomplete", "sf")
    print(
        json.dumps(
            {
                **{k: report[k] for k in final},
                "cal": [cal_start, cal_end],
                "queries": headline_q,
                "full_report": os.path.basename(out_path),
            },
            separators=(",", ":"),
        )
    )
    if errors:
        print(f"bench: {len(errors)} queries errored: {sorted(errors)}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
