"""Per-query profiling: split wall time into DataFrame construction,
Catalyst planning, and execution (noop sink), and optionally dump the
``explain("formatted")`` text to a file.

Usage:
    python tools_profile.py q1,q2,...  [--plans-dir DIR --suffix _before]
    python tools_profile.py --top N --bench-json FILE
        # the N slowest queries of a bench.py JSON record

Timing methodology matches bench.py (noop sink, clearCache between
queries); the construction/planning split is diagnostic only — the
bench's number is construction+planning+execution, same as here.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="?", default=None)
    ap.add_argument("--top", type=int, default=None)
    ap.add_argument("--bench-json", default=None)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()
    if args.top and not args.bench_json:
        ap.error("--top needs --bench-json FILE (a bench.py JSON record)")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from etlp_spark.io import TABLES, load_table
    from etlp_spark.queries import QUERIES
    from etlp_spark.session import get_spark

    if args.top:
        with open(args.bench_json) as fh:
            bench = json.load(fh)
        names = [
            n
            for n, _ in sorted(bench["queries"].items(), key=lambda kv: -kv[1])[
                : args.top
            ]
        ]
    else:
        names = [n.strip() for n in (args.names or "").split(",") if n.strip()]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    spark = get_spark(app_name="etlp-spark-profile")
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    import pandas as pd  # noqa: F401

    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").count()

    results = {}
    for name in names:
        q = QUERIES[name]
        best = None
        for _ in range(args.reps):
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            t1 = time.perf_counter()
            # force analysis + optimization + initial physical planning
            plan_txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            spark.catalog.clearCache()
            gc.collect()
            rec = {
                "construct": round(t1 - t0, 3),
                "plan": round(t2 - t1, 3),
                "execute": round(t3 - t2, 3),
                "total": round(t3 - t0, 3),
            }
            if best is None or rec["total"] < best["total"]:
                best = rec
                best_plan = plan_txt
        results[name] = best
        n_exch = best_plan.count("Exchange")
        n_aqe = best_plan.count("AQEShuffleRead")
        joins = [
            j
            for j in (
                "BroadcastHashJoin",
                "SortMergeJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
            if j in best_plan
        ]
        pyn = [
            p
            for p in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas")
            if p in best_plan
        ]
        print(
            f"{name}: total={best['total']:.2f} construct={best['construct']:.2f} "
            f"plan={best['plan']:.2f} exec={best['execute']:.2f} "
            f"exchanges={n_exch} joins={joins} python={pyn} aqe_reads={n_aqe}"
        )
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            with open(
                os.path.join(args.plans_dir, f"{name}{args.suffix}.txt"), "w"
            ) as f:
                f.write(best_plan)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
