"""The sf0.01 oracle sweep: every declared query's Spark result vs its
DuckDB oracle, rows compared as sorted stringified tuples (the
verify-recipe comparison). Writes --out as
{query: {status, problems, sec}}.

Usage: python tools_local_correctness.py [--out FILE] [--sf DIR]
"""

import argparse
import json
import time

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def oracle_conn(sf: str):
    """DuckDB connection with one view per table of the ``sf`` corpus."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet')"
        )
    return con


def problems_for(spark, con, fn, sql: str, sf: str) -> list[str]:
    """Mismatches between one query's Spark result and its oracle SQL
    (empty = match)."""
    problems: list[str] = []
    sdf = fn(spark, sf)
    sp_cols = sorted(sdf.columns)
    sp = sorted(str(tuple(row[c] for c in sp_cols)) for row in sdf.collect())
    cur = con.execute(sql)
    du_names = [d[0] for d in cur.description]
    order = sorted(range(len(du_names)), key=lambda i: du_names[i])
    if sorted(du_names) != sp_cols:
        problems.append(f"schema: spark={sp_cols} duckdb={sorted(du_names)}")
    du = sorted(str(tuple(r[i] for i in order)) for r in cur.fetchall())
    if len(sp) != len(du):
        problems.append(f"rows: spark={len(sp)} duckdb={len(du)}")
    elif sp != du:
        bad = next((a, b) for a, b in zip(sp, du) if a != b)
        problems.append(
            f"values: first diff {bad[0][:80]!r} vs {bad[1][:80]!r}"
        )
    return problems


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="LOCAL_CORRECTNESS.json")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from etlp_spark.session import get_spark

    spark = get_spark(app_name="etlp-local-correctness")
    qs, osql = entry.queries(), entry.oracle_sql()
    con = oracle_conn(args.sf)
    out: dict = {}
    for name, fn in qs.items():
        t0 = time.time()
        try:
            problems = problems_for(spark, con, fn, osql[name], args.sf)
        except Exception as e:  # noqa: BLE001 - harness records, not hides
            problems = [f"error: {type(e).__name__}: {str(e)[:200]}"]
        status = "ok" if not problems else "FAIL"
        out[name] = {
            "status": status,
            "problems": problems,
            "sec": round(time.time() - t0, 2),
        }
        # persist() frames in query paths accumulate across a
        # 252-query sweep unless dropped (gc frees checkpoint blocks
        # but never SQL-cache entries) — mirror bench.py.
        spark.catalog.clearCache()
        print(name, status, flush=True)
    n_ok = sum(1 for v in out.values() if v["status"] == "ok")
    print(f"{n_ok}/{len(out)} ok")
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
