"""Test-data loaders for the driver-generated TPC-H-ish tables.

Tables live at ``{sf_dir}/{table}.parquet`` (see TESTDATA.md). Loading
is a plain parquet scan so Catalyst keeps predicate pushdown, column
pruning and partition pruning — at 100 TB these scans are the single
biggest lever, so nothing here materializes or caches DATA.

What is cached is schema METADATA: inferring a parquet schema reads
the footer on every ``spark.read.parquet`` (75-110 ms per local
table on a 4-core host, against ~15 ms for a read given its schema),
and the declared queries load tables hundreds of times. ``load_table``
keeps the inferred schema and its dtypes per ``SparkSession`` (held
weakly, so a dropped session's entries go with it), keyed on the path
of the table's parquet file and its ``(mtime_ns, size)``: rewriting a
table changes the stamp and the next call infers again. Every call
still returns a fresh lazy scan with new expression ids, so two loads
of one table self-join unambiguously. Anything that is not a local
file (a missing or non-local path) skips the cache and is read as a
plain ``spark.read.parquet``.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["TABLES", "DEFAULT_SF_DIR", "load_table", "load_tables", "register_views"]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Timestamp columns in the testdata. Generators have shipped these
#: as parquet TIMESTAMP(NANOS) (Spark needs ``nanosAsLong`` → bigint)
#: and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark 4 reads
#: TIMESTAMP_NTZ natively). ``load_table`` normalizes EITHER physical
#: encoding to plain TimestampType (LTZ) under a UTC session zone, so
#: every downstream query sees one stable type with epoch semantics
#: identical to the tz-naive DuckDB oracle.
_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}

#: session -> {path: (file stamp, inferred schema, dtypes)}
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _file_stamp(path: str) -> "tuple[int, int] | None":
    """``(mtime_ns, size)`` of a local parquet file, or None for
    anything else (the read then infers, and raises, as before)."""
    if not os.path.isfile(path):
        return None
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size)


def _read_parquet(spark: SparkSession, path: str) -> "tuple[DataFrame, dict[str, str]]":
    """A fresh lazy parquet scan of ``path`` and its dtypes, with the
    footer schema inferred once per session and file stamp."""
    stamp = _file_stamp(path)
    if stamp is None:
        df = spark.read.parquet(path)
        return df, dict(df.dtypes)
    per_session = _SCHEMAS.setdefault(spark, {})
    hit = per_session.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path), hit[2]
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    per_session[path] = (stamp, df.schema, dtypes)
    return df, dtypes


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # Confs set here (runtime-settable) instead of at session-builder
    # time: load_table must work on ANY SparkSession, including one
    # built by an external harness.
    #
    # NB: both settings are DELIBERATE session-wide mutations — the
    # declared-query contract requires UTC timestamp semantics (the
    # DuckDB oracle is tz-naive), so any session loading these tables
    # is opted into it. A caller needing a different session zone for
    # unrelated work should use a separate SparkSession.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df, dtypes = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for col in _TS_COLS.get(name, ()):
        if dtypes.get(col) == "bigint":
            # TIMESTAMP(NANOS) read as long nanos: integer-divide to
            # micros — the same truncation DuckDB applies for nanos.
            df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` div 1000)"))
        elif dtypes.get(col) in ("timestamp_ntz", "date"):
            # NTZ → LTZ under the UTC session zone keeps the same wall
            # clock AND the same epoch as the naive oracle timestamps,
            # and restores unix_micros / cast-to-long arithmetic that
            # TIMESTAMP_NTZ rejects. DATE gets the same treatment
            # (midnight UTC) should a future generator ship dates.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
