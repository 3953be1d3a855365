"""Contract test for bench.py — the driver's per-round artifact
producer. Round 2's artifact was lost to a single query crash; this
pins the contract: exit 0, EXACTLY one JSON line on stdout, required
keys present, and failures surfaced via n_failed/complete instead of
aborting. Runs a 3-query subset at sf0.001 (SPARK_GRAFT_BENCH_ONLY)
so the full pipeline — session, warmup, noop sink, outlier re-run,
JSON emit — executes in seconds."""

import json
import os
import subprocess
import sys


def test_bench_emits_one_json_line_with_contract_keys():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_ONLY="q01_pricing_summary,t2_filter_shipped,x4_exact_dedup",
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    assert len(lines) == 1, f"expected exactly one stdout line, got {lines}"
    out = json.loads(lines[0])
    for key in ("metric", "value", "unit", "queries", "sf", "n_queries",
                "mean_sec_per_query"):
        assert key in out, f"missing contract key {key}"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    assert out["n_queries"] == 3
    assert set(out["queries"]) == {
        "q01_pricing_summary", "t2_filter_shipped", "x4_exact_dedup"
    }
    assert "errors" not in out and "n_failed" not in out


def test_bench_rejects_unknown_subset_names():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_ONLY="no_such_query",
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 2
    assert "unknown query names" in proc.stderr


def test_entry_leaves_no_cached_relations(spark):
    """entry() must not leak SQL-cache entries into a long-lived
    session (PERF.md r18 cache-lifetime posture): after running the
    flagship query end to end, the cache manager is empty — and when
    a query path DOES persist (by design, consumers overlapping in
    one action), clearCache() is the documented caller-side release."""
    import __spark_entry__ as e

    spark.catalog.clearCache()
    e.entry(spark).collect()
    jcache = spark._jsparkSession.sharedState().cacheManager()
    assert jcache.isEmpty(), "entry() left relations in the SQL cache"
