"""Every declared query must match its DuckDB oracle at sf0.001.

This is the only per-query pass over the declared set. Each case
builds the query's DataFrame once and, on that one build, checks:

- the scan census of the *unexecuted* plan against SCAN_CENSUS.json
  (``tests/test_scan_census.py`` documents the gate);
- the result against the oracle SQL (``compare`` collects the frame,
  which finalises the frame's own adaptive plan);
- the plan lint (``tests/test_plan_lint.py``) on that executed, final
  plan.

The sf0.01 sweep of the same contract is ``tools_local_correctness.py``.
"""

import json
import os

import pytest

from etlp_spark.queries import QUERIES
from tests.oracle_harness import compare, duckdb_conn
from tests.test_plan_lint import (
    ALLOWED,
    FORBIDDEN,
    WINDOW_SINGLE_PARTITION_ALLOWED,
    unbounded_single_partition_windows,
)
from tests.test_scan_census import CENSUS_PATH
from tools_scan_census import census_for

NAMES = sorted(QUERIES)


@pytest.fixture(scope="module")
def con(sf_dir):
    con = duckdb_conn(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="module")
def census():
    with open(CENSUS_PATH) as fh:
        return json.load(fh)


def test_load_table_self_sufficient_on_foreign_session(spark, sf_dir):
    """Round-1 regression: the driver harness builds its OWN SparkSession
    without `nanosAsLong`, which made every events-table read crash with
    PARQUET_TYPE_ILLEGAL. load_table must self-configure at runtime."""
    from etlp_spark import io

    foreign = spark.newSession()
    foreign.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    df = io.load_table(foreign, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.limit(1).count() >= 0


def census_problems(name: str, df, census: dict) -> list[str]:
    """Tables the unexecuted plan scans more often than the census allows."""
    if name not in census:
        return [
            "missing from SCAN_CENSUS.json (regenerate with "
            "tools_scan_census.py)"
        ]
    allow = census[name]
    return [
        f"{table} scanned {n}x (allowed {allow.get(table, 0)})"
        for table, n in census_for(df).items()
        if n > allow.get(table, 0)
    ]


def lint_problems(name: str, df) -> list[str]:
    """Plan-lint violations of the frame's executed plan. Call only
    after an action on ``df`` itself: its adaptive plan must be final."""
    exe = df._jdf.queryExecution().executedPlan()
    plan = str(exe.toString())
    if exe.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        assert plan.startswith("AdaptiveSparkPlan isFinalPlan=true"), (
            f"{name}: lint would read a non-final adaptive plan"
        )
    bad = [
        n for n in FORBIDDEN
        if n in plan and n not in ALLOWED.get(name, set())
    ]
    if name not in WINDOW_SINGLE_PARTITION_ALLOWED:
        bad += [
            f"SinglePartition-fed {w}"
            for w in unbounded_single_partition_windows(exe)
        ]
    return bad


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf_dir, con, census, name):
    # The census must not see another query's cached relations.
    spark.catalog.clearCache()
    q = QUERIES[name]
    df = q.fn(spark, sf_dir)
    assert df is not None
    problems = [f"census: {p}" for p in census_problems(name, df, census)]
    problems += compare(df, con, q.oracle)
    problems += [f"plan lint: {p}" for p in lint_problems(name, df)]
    assert not problems, f"{name}: " + "; ".join(problems)
