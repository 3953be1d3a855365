"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload queries_sf0.001 --seed 1 --seconds 10 --trace 0

Prints progress to stderr and, as the last line of stdout, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same work with the
layer hooks on, writes the spans to ``.perfbench/trace-<workload>-<seed>.json``,
prints a per-layer self-time table, and reports the per-layer metrics.
See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys

import harness  # first import: fixes the process start time
import layers

#: End-to-end metrics, with units, reported by every workload.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}


#: Workload name → the module that runs it.
WORKLOADS = {"queries_sf0.001": "queries_workload", "stream_etl": "stream_workload"}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etlp_spark", "__init__.py")):
        print(f"perfbench: no etlp_spark package under {root}; run from a checkout root", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    # Python workers import etlp_spark too; they inherit the environment.
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # A SIGTERM unwinds like an exception, so the ``finally`` below still
    # stops every process the run started.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    scratch = harness.configure_env()
    try:
        from etlp_spark.protobuf_vendor import ensure_protobuf

        ensure_protobuf()
        tracer = layers.Tracer() if args.trace else None
        workload = importlib.import_module(WORKLOADS[args.workload])
        res = workload.run(args.seed, args.seconds, tracer=tracer)
    finally:
        harness.stop_all()
        shutil.rmtree(scratch, ignore_errors=True)

    if tracer is None:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    else:
        values = tracer.layer_metrics(res["layers"])
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.LAYER_METRICS.items()}
        path = os.path.join(".perfbench", f"trace-{args.workload}-{args.seed}.json")
        tracer.write(path)
        print(tracer.table(res["root_span"]))
        print(f"spans written to {path}")
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
