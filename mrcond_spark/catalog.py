"""Table catalog over the driver's synthetic parquet tables.

All declared queries load inputs through here so scans stay uniform:
``spark.read.schema(...).parquet`` (vectorized reader, predicate pushdown,
column pruning all come free from Catalyst).

Each table's schema is inferred once per table version and process. An
inferring ``spark.read.parquet`` launches one Spark job that only reads a
parquet footer (~38 ms per load on a 4-vCPU host at sf0.01; one build of
the 179-query corpus makes 249 loads), so the inferred ``StructType`` is
kept in ``_SCHEMAS``, keyed by the file's path, ``st_mtime_ns`` and
``st_size``; a rewritten file is a new key and is inferred again. Only the
schema is cached, never the DataFrame: every load builds a fresh relation
with fresh attribute ids, which self-joins (``load(t).join(load(t), ...)``)
need to stay unambiguous, and no data is pinned in memory.

At 100 TB the same API points at partitioned object-store datasets; nothing
below materializes or collects. A path ``os.stat`` cannot see (an
object-store URI) is not cached and is inferred on every load.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

#: dimension tables small enough to broadcast at any scale factor
BROADCAST_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: (path, st_mtime_ns, st_size) -> the schema the inferring read gave
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per file
    version, under the conf in effect at the first read. Two threads that
    miss on one key at once both infer it and store equal schemas."""
    try:
        st = os.stat(path)
    except OSError:  # not a local file: let Spark infer (or report it missing)
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (lazy parquet scan).

    ``events.ts`` is written as parquet INT64 TIMESTAMP(NANOS), which the
    Spark reader rejects natively; we read nanos as LONG and convert to a
    micro-precision timestamp (truncation — matches DuckDB's own ns->us
    conversion of the same file).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # The testdata stores naive timestamps (isAdjustedToUTC=false). Read them
    # as TIMESTAMP_LTZ (identical values under the UTC session zone the engine
    # pins) rather than TIMESTAMP_NTZ so epoch functions (unix_micros etc.)
    # work. Set here, not only in the session factory, because the driver
    # calls queries() with its own plain SparkSession.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        from pyspark.sql import functions as F

        # scope the legacy flag to this read: the plan captures the conf at
        # analysis time, so restoring it immediately keeps OTHER nanos
        # datasets failing loudly instead of silently reading as bigint
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = _read(spark, table_path(sf_dir, name))
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return _read(spark, table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for SQL-path queries)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
