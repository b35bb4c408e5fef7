"""SparkSession factory tuned for the engine.

Design notes (100 TB scale):
- AQE on: runtime coalescing of shuffle partitions, dynamic broadcast-join
  conversion, and skew-join splitting replace hand-tuned partition counts.
- Arrow on: every Pandas UDF / applyInPandas crosses the JVM<->Python boundary
  in columnar Arrow batches instead of pickled rows.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down using ``advisoryPartitionSizeInBytes``. On a real cluster we
  would raise the bound to ~2-3x total cores and let AQE shrink.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive timestamps) bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: local[N] core count: $SPARK_GRAFT_CPUS, else every core of this host. The
#: only place the variable is read (tests/test_bench_harness.py guards it).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app_name: str = "mrcond_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local mode stand-in for a multi-executor cluster: everything here is a
    cluster-safe setting, nothing assumes a single JVM.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- optimizer / execution ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism vs the DuckDB oracle ---
        .config("spark.sql.session.timeZone", "UTC")
        # Testdata parquet stores naive timestamps (isAdjustedToUTC=false).
        # Read them as TIMESTAMP_LTZ under the UTC session zone, not
        # TIMESTAMP_NTZ: values are identical, but LTZ keeps unix_micros()
        # and the rest of the epoch-function surface usable.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # --- scan tuning: 128 MiB splits is the sweet spot for object stores ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- codegen class cache sized to the WORKLOAD, not the default ---
        # Spark caches compiled whole-stage-codegen classes in a
        # 100-entry LRU; a 179-query corpus generates ~1100 distinct
        # codegen subtrees, so under the default every query re-COMPILES
        # its stages on every run even with identical plans. Measured A/B
        # (full corpus twice, sf0.1): second-pass wall 231.2 s at 100
        # entries vs 186.6 s at a workload-sized cache (-19%); q184 KS
        # 2.36 -> 1.69 s, q183 rank-sum 2.30 -> 1.42 s. 4000 entries
        # (~4x the corpus's subtree count) costs single-digit MBs of
        # driver metaspace — compiled classes are small; recompiling them
        # per run is not.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        # --- quieter driver ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
