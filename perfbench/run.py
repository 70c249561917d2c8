#!/usr/bin/env python3
"""Benchmark of utxo_to_parquet_spark, driven from outside the package.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload ingest_lookup --seed 1 --seconds 8 --trace 0

Workloads: ``ingest_lookup`` and ``library`` (see METRICS.md).
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
``# detail`` line before it carries the named product numbers (ingest
seconds, lookup percentiles, library cold and warm seconds, environment).
Traced runs also write their spans to ``.perfbench/traces/``.

``--scale tiny`` and ``--corrupt`` exist for the smoke test
(``perfbench/test_smoke.py``); a normal run uses neither.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import env  # noqa: E402
import metrics  # noqa: E402

TIME_LIMIT_S = 170


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("ingest_lookup", "library"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument("--corrupt", action="store_true", help="damage one output before it is checked")
    return p.parse_args(argv)


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    for need in ("utxo_to_parquet_spark/__init__.py", "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the root of a checkout", file=sys.stderr)
            return 2
    dirs = env.Dirs(root)
    environment = env.pin(root, dirs)

    from spans import Tracer
    from workloads import WORKLOADS, Run

    tracer = Tracer(bool(args.trace))
    session = env.Session()
    run = Run(root, args, dirs, session, tracer)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(TIME_LIMIT_S)
    try:
        e2e, layer, detail = WORKLOADS[args.workload](run)
        rss = session.peak_rss_mb()
        e2e["peak_rss_mb"] = rss["python"] + rss["jvm"]
    finally:
        signal.alarm(0)
        session.close()
        dirs.remove_run()
    environment["wall_s"] = time.perf_counter() - run.t_start
    detail.update(
        workload=args.workload,
        seed=args.seed,
        env=environment,
        end_to_end=e2e,
        peak_rss_mb_parts=rss,
        failed_share=run.failed / max(1, run.attempted),
        errors=run.errors,
    )
    end_to_end, per_layer = metrics.load()
    if args.trace:
        layer["session_build_s"] = session.build_s
        layer["first_job_s"] = session.first_job_s
        layer["trace_self_s"] = tracer.self_s
        layer["trace_spans"] = len(tracer.spans)
        path = os.path.join(dirs.traces, f"{args.workload}-seed{args.seed}-{tracer.run_id}.json")
        tracer.write(path, {"detail": detail, "per_layer": layer})
        detail["trace_file"] = os.path.relpath(path, root)
        values = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]} for m in per_layer}
    else:
        values = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in end_to_end}
    print("# detail " + json.dumps(detail, default=str))
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": values,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
