"""Batch workload: a fixed sample of the declared query corpus at sf0.01,
each query forced with the ``noop`` sink, in a seeded order.

It measures the per-query fixed cost: plan build, analysis, codegen lookup,
job launch and the eager jobs inside `Query.spark`. The sample is fourteen
queries that run in well under a second each once warm, across the
relational, analytics, governance and search families. The whole corpus
does not fit a run (one warm pass over all 179 queries takes 94-109 s on
4 cores, the cold first pass about 240 s), and neither do the executor-bound
heavy and iterative queries (2-5 s each, warm, at sf0.01).
"""

from __future__ import annotations

import os
import sys
import time

from mrcond_spark.queries import all_queries

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
SAMPLE = (
    "q01_scan_project", "q11_count_distinct", "q17_topk", "q23_math_funcs", "q29_subquery",
    "q59_time_rollup", "q65_pivot", "q71_range_frame", "q83_stratified_sample",
    "q109_acctbal_histogram", "q130_rrf_fusion", "q152_train_val_split", "q163_group_split",
    "q174_tpch_q13_custdist",
)


def _canon_rows():
    """The tier-2 oracle comparison (tests/test_oracle.py), so a benchmark
    pass and the test suite agree on what "correct" means."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tests"))
    try:
        from test_oracle import canon_rows
    finally:
        sys.path.pop(0)
    return canon_rows


def check_pass(spark, names: list[str], tracer) -> tuple[int, list[str]]:
    """Run every sampled query once with ``collect`` and hash-compare it
    against its DuckDB oracle (rows-only queries must run and return a
    schema). Untimed; it doubles as the warm-up. Returns failures."""
    import duckdb

    from mrcond_spark.catalog import TABLES, table_path

    canon_rows = _canon_rows()
    queries = all_queries()
    failures = []
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(SF_DIR, t)}'")
        for name in names:
            q = queries[name]
            with tracer.span("check", query=name):
                try:
                    sdf = q.spark(spark, SF_DIR)
                    s_cols = sdf.columns
                    s_rows = [tuple(r) for r in sdf.collect()]
                    if q.oracle is None:
                        if not sdf.schema.fields:
                            failures.append(f"{name}: empty schema")
                        continue
                    res = con.execute(q.oracle)
                    d_cols = [d[0] for d in res.description]
                    d_rows = res.fetchall()
                except Exception as e:  # a query that raises is a counted failure
                    failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                if sorted(s_cols) != sorted(d_cols):
                    failures.append(f"{name}: columns {s_cols} vs {d_cols}")
                elif canon_rows(s_cols, s_rows) != canon_rows(d_cols, d_rows):
                    failures.append(f"{name}: rows differ from the DuckDB oracle")
    finally:
        con.close()
    return len(names), failures


def timed_pass(spark, names: list[str], run_id: str, pass_no: int, tracer) -> dict:
    """One pass: per query, build (``Query.spark``) then execute (``noop``
    save). Each query runs in its own job group, so the event log splits
    jobs by query and by build vs execute."""
    queries = all_queries()
    sc = spark.sparkContext
    walls, builds, failures = {}, {}, []
    with tracer.span("pass", pass_no=pass_no):
        t_pass = time.perf_counter()
        for name in names:
            sc.setJobGroup(f"{run_id}:{pass_no}:{name}", name)
            with tracer.span("query", query=name):
                t0 = time.perf_counter()
                try:
                    with tracer.span("build"):
                        df = queries[name].spark(spark, SF_DIR)
                    t1 = time.perf_counter()
                    with tracer.span("execute"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # counted, and the pass goes on
                    failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                walls[name] = time.perf_counter() - t0
                builds[name] = t1 - t0
        wall = time.perf_counter() - t_pass
    sc.setJobGroup(f"{run_id}:idle", "idle")
    return {"wall": wall, "walls": walls, "builds": builds, "failures": failures}
