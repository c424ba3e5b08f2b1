"""Solo re-timer: bench.py's timing loop (`bench.time_query`: median of
N noop-sink runs, pins, memos and cache dropped between runs) for a
named subset of queries, in one warm session. Use for optimization
iteration; the committed numbers stay bench.py's.

Usage: PYTHONPATH=/root/repo python tools/time_query.py q1 q2 ...
       [--sf-dir /root/testdata/sf0.1] [--runs 3]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from bench import time_query, warm
    from etl_poc_spark import registry
    from etl_poc_spark.session import get_spark

    registry.load_all()
    spark = get_spark("time_query")
    warm(spark, args.sf_dir)
    for name in args.queries:
        med, runs = time_query(spark, registry.QUERIES[name], args.sf_dir, args.runs)
        print(
            f"{name}: median={med:.3f} runs={[round(r, 3) for r in runs]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
