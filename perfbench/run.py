"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. With ``--trace 0`` the result holds the
end-to-end metrics; with ``--trace 1`` the engine's public functions are
wrapped with spans and the result holds the per-layer metrics instead.
The last line of standard output is the result; the exit code is 0 only
when every correctness check passed. See README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("ingest", "serve")


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(common.REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, common.REPO)
    try:
        import distribution_engine_smt_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {common.REPO}: {exc}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = common.RunDir(args.workload, args.seed)
    common.configure_env(run_dir, cpus, bool(args.trace))
    spark = None
    try:
        t = time.perf_counter()
        spark = common.start_spark()
        spark_start_s = time.perf_counter() - t
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        if args.workload == "ingest":
            import ingest

            res = ingest.run(spark, args.seed, run_dir, tracer, spark_start_s)
        else:
            import serve

            res = serve.run(spark, args.seed, args.seconds, run_dir, tracer, spark_start_s, cpus)
        if tracer:
            tracer.restore()
            tracer.write(os.path.join(common.REPO, ".bench_out",
                                      f"trace-{args.workload}-seed{args.seed}.jsonl"))
            values = dict(res["layers"])
            values["trace.bookkeeping_s"] = tracer.bookkeeping_s
            # traced twin of the end-to-end wait: its gap to the untraced
            # run's latency_ms is the tracing overhead
            values["trace.latency_ms"] = res["metrics"]["latency_ms"]
            declared = _declared("per_layer")
        else:
            values = res["metrics"]
            declared = _declared("end_to_end")
        unknown = set(values) - set(declared)
        if unknown:
            raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer the workload does not exercise reads 0; a latency that
        # failed requests made infinite has no JSON number and reads null
        reported = {name: {"value": _finite(values.get(name, 0.0)), "unit": unit}
                    for name, unit in declared.items()}
    finally:
        if spark is not None:
            common.stop_spark(spark)
        run_dir.close()

    for e in res["errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"detail": res["detail"]}, default=str), file=sys.stderr)
    correct = not res["errors"] and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": reported}))
    return 0 if correct else 1


def _finite(value):
    return value if math.isfinite(value) else None


if __name__ == "__main__":
    sys.exit(main())
