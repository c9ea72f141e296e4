"""Benchmark entry point: run one workload for one seed and print its metrics.

    python3 perfbench/run.py --workload crawl_large_pages --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Every metric is printed by name with its
unit; the last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
prints the end-to-end metrics, ``--trace 1`` the per-layer ones. The exit
code is 1 when any op failed or its output check found a mismatch, and 2
when the checkout holds no package to measure.

``--pages``, ``--warmup`` and ``--corrupt`` exist for the benchmark's
own smoke tests: a shorter op, fewer warm-up ops, and an output damaged
on purpose so that the check must fail.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
QUERY_WORKLOAD = "curation_queries"


def _seed(text: str) -> int:
    seed = int(text)
    if seed < 0:
        raise argparse.ArgumentTypeError("seeds are >= 0; negative ones are reserved")
    return seed


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    from crawl import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted([*WORKLOADS, QUERY_WORKLOAD]))
    ap.add_argument("--seed", type=_seed, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None)
    ap.add_argument("--warmup", type=int, default=None, help="at least 1")
    ap.add_argument("--corrupt", action="store_true")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "ocr_poc_spark")):
        print(f"no ocr_poc_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    args = parse_args(argv)
    # Spark's scratch space, temp files and the Python workers' import path
    # all stay inside the checkout.
    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ROOT, ".perfbench", "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]
    )

    import crawl
    import queries

    if args.workload == QUERY_WORKLOAD:
        run = queries.QueryRun(
            root=ROOT,
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            corrupt=args.corrupt,
            warmup=args.warmup,
        )
    else:
        run = crawl.Run(
            root=ROOT,
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            corrupt=args.corrupt,
            pages=args.pages,
            warmup=args.warmup,
        )
    res = run.execute()
    if args.trace:
        # Every per-layer metric is printed on every workload: a layer the
        # workload does not run reads 0.
        for name, unit in {**crawl.LAYERS, **queries.LAYERS}.items():
            res["metrics"].setdefault(name, (0.0, unit))
    for name, (value, unit) in res["metrics"].items():
        print(f"{name:40s} {value:14.6f} {unit}")
    print(f"{'attempted':40s} {res['attempted']:14d} ops")
    print(f"{'failed':40s} {res['failed']:14d} ops")
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in res["metrics"].items()
                },
            }
        )
    )
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
