"""Regression gate for the duplicate-corpus-pass class (r17/r18
optimization rounds): every declared query's physical plan must not
scan any table MORE times than the checked-in census
(SCAN_CENSUS.json) records. A rewrite that accidentally duplicates a
corpus subtree (unpinned frame referenced twice, union of selects over
an unpinned pipeline, broadcast side defeating ReusedExchange) shows
up as an extra Scan parquet node and fails with the offending query
and table named.

The fleet-wide check runs inside ``test_query_matches_oracle``
(tests/test_queries_oracle.py), one case per query: ``census_for``
reads the query's *unexecuted* plan, built once and then collected
for the oracle comparison. Construct-time pin jobs are not counted;
they are covered by their own plan-shape tests. This module keeps the
census path and the test that the counter fires. Regenerate the
allowlist after an intentional change with:  python tools_scan_census.py
"""

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CENSUS_PATH = os.path.join(REPO, "SCAN_CENSUS.json")


def test_scan_census_catches_injected_duplicate(spark, sf_dir):
    """The gate must actually fire: a self-union of an unpinned
    corpus aggregate scans the table twice, which the census counts."""
    from pyspark.sql import functions as F

    from tools_scan_census import census_for

    from etlp_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    dup = agg.unionAll(agg)
    got = census_for(dup)
    assert got.get("documents", 0) == 2, got
