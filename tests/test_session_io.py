"""Session defaults and ``io.load_table``'s per-session schema cache."""

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from etlp_spark import io
from etlp_spark.io import load_table

_DEBUG = "spark.python.sql.dataFrameDebugging.enabled"


def test_get_spark_turns_dataframe_debugging_off(spark):
    assert spark.conf.get(_DEBUG) == "false"


def test_get_spark_extra_conf_overrides_debugging_default(tmp_path):
    """The switch is a static conf, so the override is shown on a fresh
    session in a child process; there the first ``functions`` call
    latches PySpark's call-site capture on."""
    code = (
        "from pyspark.errors.utils import is_debugging_enabled\n"
        "from pyspark.sql import functions as F\n"
        "from etlp_spark.session import get_spark\n"
        f"s = get_spark(master='local[1]', extra_conf={{{_DEBUG!r}: 'true'}})\n"
        f"print(s.conf.get({_DEBUG!r}))\n"
        "F.col('x')\n"
        "print(is_debugging_enabled())\n"
        "s.stop()\n"
    )
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="512m",
        SPARK_GRAFT_WAREHOUSE=str(tmp_path / "wh"),
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-2:] == ["true", "True"]


def test_get_spark_extra_conf_rejects_static_change_on_live_session(spark):
    from etlp_spark.session import get_spark

    # getOrCreate applies the builder's runtime confs to the live
    # session: keep the fixture's shuffle partitions.
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with pytest.raises(ValueError, match=_DEBUG):
        get_spark(shuffle_partitions=parts, extra_conf={_DEBUG: "true"})
    assert spark.conf.get(_DEBUG) == "false"
    same = get_spark(shuffle_partitions=parts, extra_conf={_DEBUG: "false"})
    assert same is spark


def test_missing_column_still_raises_analysis_exception(spark):
    df = spark.range(3)
    with pytest.raises(AnalysisException, match="no_such_col"):
        df.select("no_such_col")


def test_load_table_schema_cache_picks_up_rewrite(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    ts = pa.array([0, 1_000_000], type=pa.timestamp("us"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), path)
    first = load_table(spark, str(tmp_path), "events")
    assert first.columns == ["event_id", "ts"]
    assert dict(first.dtypes)["ts"] == "timestamp"
    # a warm call is served from the cache entry for this file stamp
    assert io._SCHEMAS[spark][path][0] == io._file_stamp(path)
    assert load_table(spark, str(tmp_path), "events").count() == 2

    before = os.stat(path).st_mtime_ns
    ts = pa.array([5, 6, 7], type=pa.timestamp("us"))
    pq.write_table(pa.table({"event_id": ["a", "b", "c"], "ts": ts, "extra": [1.5, 2.5, 3.5]}), path)
    assert os.stat(path).st_mtime_ns != before
    second = load_table(spark, str(tmp_path), "events")
    assert second.columns == ["event_id", "ts", "extra"]
    assert dict(second.dtypes)["event_id"] == "string"
    assert sorted(r.extra for r in second.collect()) == [1.5, 2.5, 3.5]


def test_load_table_cached_frames_self_join_on_ts(spark, sf_dir):
    load_table(spark, sf_dir, "events")  # warm the cache
    a = load_table(spark, sf_dir, "events")
    b = load_table(spark, sf_dir, "events")
    got = a.join(b, a["ts"] == b["ts"]).count()
    per_ts = [r["count"] for r in a.groupBy("ts").count().collect()]
    assert got == sum(c * c for c in per_ts)
    assert got < a.count() ** 2  # not a trivially-true predicate


@pytest.mark.parametrize("name", ["events", "lineitem", "nation"])
def test_load_table_cached_rows_equal_uncached(spark, sf_dir, name):
    load_table(spark, sf_dir, name)  # warm the cache
    cached = load_table(spark, sf_dir, name)
    io._SCHEMAS.pop(spark, None)  # the next call infers from the footer
    uncached = load_table(spark, sf_dir, name)
    assert cached.schema == uncached.schema
    assert cached.count() == uncached.count()
    assert cached.exceptAll(uncached).count() == 0
    assert uncached.exceptAll(cached).count() == 0
