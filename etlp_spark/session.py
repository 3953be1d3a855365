"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[32]`` (single JVM), but every default here
is chosen to survive a 1000-executor cluster reading ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) so plans adapt to real partition sizes instead of
  the static ``shuffle.partitions`` guess.
- ``spark.sql.files.maxPartitionBytes`` left at the 128 MiB default:
  at 100 TB that yields ~800k scan tasks, which Spark schedules fine;
  raising it only helps when row groups are tiny.
- Arrow enabled for every pandas interchange (Pandas UDFs are the
  sanctioned Python escape hatch; row-at-a-time Python UDFs are
  banned in this codebase's hot paths).
- Session timezone pinned to UTC so timestamp semantics are
  deterministic across the DuckDB oracle and any cluster locale.
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it
  on, every ``pyspark.sql.functions`` / ``Column`` call goes through
  PySpark's ``_with_origin`` wrapper: an active-session lookup, a JVM
  class lookup, a ``conf.get`` and a set/clear of
  ``PySparkCurrentOrigin`` (py4j round trips, ~16 per call), plus a
  Python stack walk and a failing ``import IPython`` that scans
  ``sys.path``. Building one query makes hundreds of such calls (x18:
  204 calls, ~3,240 round trips, under cProfile). PySpark documents
  this switch as the way to avoid that slowdown. What is lost is the
  Python ``file:line`` in the DataFrame context of analysis errors;
  the errors themselves (``AnalysisException`` naming the column) are
  unchanged. To get the call sites back, pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.

  PySpark reads this value ONCE per process: the first ``functions``
  call latches it (as false if no session is active yet), and later
  conf changes do not move the latch. So the override only takes
  effect when it is set before the process's first ``functions`` call.
  It is a static conf: ``get_spark`` raises ``ValueError`` if it is
  asked for while a session with another value is running.

The reference's parallelism knobs (``:threads``, ``:partitions``
buffer sizes — e.g. ``src/etlp/connector/core.clj:58``,
``src/etlp/connector/dag.clj:51`` in aregee/etlp) map onto
``shuffle_partitions`` / ``default_parallelism`` here; per-node thread
counts have no Spark equivalent and are deliberately dropped.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_master"]


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def get_spark(
    app_name: str = "etlp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Raises ``ValueError`` naming each ``extra_conf`` key whose live
    value differs from the one asked for: a static conf cannot change
    once a session is running, and reusing one would drop it.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster set it to ~2-3x total executor cores (AQE coalesces the
    excess at runtime, so overshooting is cheap and undershooting is
    not).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or default_master())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # Call-site capture costs ~16 py4j round trips per functions
        # call; see the module docstring (and its process-wide latch).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/etlp-spark-warehouse"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The default codegen cache holds 100 compiled plans; this
        # engine's declared repertoire is 124+ queries, so a full
        # bench/service run evicts early plans and pays Janino
        # recompilation (seconds for the biggest expression trees —
        # winnow/minhash) on every re-execution. Size the cache to the
        # workload like any production query service would.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Driver-generated parquet stores TIMESTAMP(NANOS) which Spark
        # rejects; read as long nanos and convert in io.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate on a live session applies runtime confs but only
    # warns about static ones, so a static override would be dropped.
    stale = {
        k: live
        for k, v in (extra_conf or {}).items()
        if (live := spark.conf.get(k, None)) != v
    }
    if stale:
        raise ValueError(
            "extra_conf keys not in effect on the running session "
            f"(live values shown): {stale}"
        )
    return spark
