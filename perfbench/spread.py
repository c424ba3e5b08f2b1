"""Run the benchmark over several seeds and report, per workload and
end-to-end metric, the median and the spread (interquartile distance as a
share of the median) next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --seeds 1-10 [--workloads etl]
                                [--trace] [--out runs.jsonl]

With --trace each seed also gets a traced run, and the tracing overhead
(traced wall_s minus untraced wall_s, medians over seeds) is reported.
Runs are sequential: one benchmark process at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    elapsed = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}: {p.stderr[-2000:]}")
    own = json.loads(lines[-2])["metrics"] if len(lines) >= 2 else {}
    return {"workload": workload, "seed": seed, "trace": trace, "elapsed_s": elapsed,
            "own": own, **json.loads(lines[-1])}


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    lo, _, hi = args.seeds.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    rows = []
    for w in args.workloads.split(","):
        for s in seeds:
            for t in ([0, 1] if args.trace else [0]):
                r = run_once(w, s, bench["run_seconds"], t)
                rows.append(r)
                if args.out:
                    with open(args.out, "a", encoding="utf-8") as f:
                        f.write(json.dumps(r) + "\n")
        untraced = [r for r in rows if r["workload"] == w and r["trace"] == 0]
        print(f"{w}: {len(untraced)} runs, failed={sum(r['failed'] for r in untraced)}, "
              f"median run {statistics.median(r['elapsed_s'] for r in untraced):.1f} s")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in untraced]
            med = statistics.median(vals)
            sp = spread(vals) if len(vals) >= 2 else float("nan")
            print(f"  {name:24s} median {med:12.4f}  spread {sp:6.3f}  bound {bound}")
        for name in untraced[0]["own"]:
            vals = [r["own"][name]["value"] for r in untraced]
            med = statistics.median(vals)
            sp = spread(vals) if len(vals) >= 2 else float("nan")
            print(f"  {name:24s} median {med:12.4f}  spread {sp:6.3f}  (details line)")
        traced = [r for r in rows if r["workload"] == w and r["trace"] == 1]
        if traced:
            tw = statistics.median(r["metrics"]["trace.wall_s"]["value"] for r in traced)
            uw = statistics.median(r["metrics"]["wall_s"]["value"] for r in untraced)
            print(f"  tracing overhead: traced wall_s {tw:.3f} - untraced {uw:.3f} = {tw - uw:+.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
