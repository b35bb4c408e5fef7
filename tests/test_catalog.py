"""The table catalog infers each table's parquet schema once per file
version: later loads start no Spark job, read the same schema, keep
self-joins unambiguous and leave the session conf as they found it."""

from __future__ import annotations

import os
import re
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mrcond_spark import catalog
from mrcond_spark.catalog import TABLES, load, table_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@contextmanager
def job_ids(spark):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids += sc.statusTracker().getJobIdsForGroup(group)


def inferred_schema(spark, path: str, nanos_as_long: bool):
    """A plain inferring read, under the conf ``load`` reads with."""
    if nanos_as_long:
        spark.conf.set(NANOS, "true")
    try:
        return spark.read.parquet(path).schema
    finally:
        spark.conf.unset(NANOS)


@pytest.mark.parametrize("name", TABLES)
def test_second_load_starts_no_job(spark, sf_dir, name):
    load(spark, sf_dir, name)
    with job_ids(spark) as ids:
        df = load(spark, sf_dir, name)
    assert df.columns
    assert ids == []


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_equals_inferred(spark, sf_dir, name):
    df = load(spark, sf_dir, name)
    path = table_path(sf_dir, name)
    st = os.stat(path)
    cached = catalog._SCHEMAS[(path, st.st_mtime_ns, st.st_size)]
    assert cached == inferred_schema(spark, path, nanos_as_long=name == "events")
    if name == "events":
        assert dict(df.dtypes)["ts"] == "timestamp"
    else:
        assert df.schema == cached


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = table_path(str(tmp_path), "region")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}), path)
    df = load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert df.count() == 2


def test_self_join_of_two_loads_resolves(spark, sf_dir, duck):
    a = load(spark, sf_dir, "nation")
    b = load(spark, sf_dir, "nation")
    got = a.join(b, a.n_regionkey == b.n_nationkey).count()
    want = duck.execute(
        "SELECT count(*) FROM nation a JOIN nation b ON a.n_regionkey = b.n_nationkey"
    ).fetchone()[0]
    assert got == want > 0


@pytest.mark.parametrize("cold", [True, False], ids=["cold", "warm"])
@pytest.mark.parametrize("prior", [None, "false"], ids=["unset", "set"])
def test_events_load_restores_nanos_flag(spark, sf_dir, monkeypatch, cold, prior):
    if cold:
        monkeypatch.setattr(catalog, "_SCHEMAS", {})
    if prior is None:
        spark.conf.unset(NANOS)
    else:
        spark.conf.set(NANOS, prior)
    try:
        load(spark, sf_dir, "events")
        assert spark.conf.get(NANOS, None) == prior
    finally:
        spark.conf.unset(NANOS)


def test_only_the_catalog_reads_parquet_tables():
    """Every table read goes through catalog.load's cached schema: no other
    file under mrcond_spark/ calls ``.read.parquet(``."""
    read = re.compile(r"\.read\s*\.\s*parquet\(")
    files = []
    for d, _, names in os.walk(os.path.join(ROOT, "mrcond_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    readers = sorted(os.path.relpath(f, ROOT) for f in files if read.search(open(f).read()))
    assert readers == [os.path.join("mrcond_spark", "catalog.py")]
