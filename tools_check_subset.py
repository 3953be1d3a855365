"""Spot-check a subset of queries against their DuckDB oracles at
sf0.01 — the same comparison as tools_local_correctness.py, but only
for the names given on the command line (fast iteration while a
kernel is being changed).

Usage: python tools_check_subset.py q1 q2 ... [--sf DIR]
"""

import argparse
import sys
import time

from tools_local_correctness import oracle_conn, problems_for


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from etlp_spark.session import get_spark

    spark = get_spark(app_name="etlp-check-subset")
    qs, osql = entry.queries(), entry.oracle_sql()
    con = oracle_conn(args.sf)
    bad = 0
    for name in args.names:
        t0 = time.time()
        problems = problems_for(spark, con, qs[name], osql[name], args.sf)
        status = "ok" if not problems else "MISMATCH"
        if status != "ok":
            bad += 1
        print(f"{name}: {status} ({time.time() - t0:.2f}s) {problems}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
