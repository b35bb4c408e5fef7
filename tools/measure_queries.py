#!/usr/bin/env python
"""Isolated per-query measurement, on bench.py's protocol.

Warms the session with ``bench.warm_up``, then times each named query with
``bench.time_query`` (noop sink, Spark jobs labeled with the query name):
one untimed run, then ``--runs`` timed runs, reported as the median plus
the samples. Optionally dumps ``.explain('formatted')`` per query, with the
pre-checkpoint subplans appended.

Usage:
  python tools/measure_queries.py q132_kcore q170_dedup_components
  python tools/measure_queries.py --plans plans/r11 --suffix before q132_kcore
  python tools/measure_queries.py --runs 5 q99_semantic_dedup
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, time_query, warm_up  # noqa: E402
from mrcond_spark.operators import capture_preckpt_plans  # noqa: E402
from mrcond_spark.queries import all_queries  # noqa: E402
from mrcond_spark.session import get_spark  # noqa: E402


def positive_int(v: str) -> int:
    n = int(v)
    if n < 1:
        raise argparse.ArgumentTypeError("--runs must be >= 1")
    return n


def write_plans(spark, name: str, q, sf: str, plans_dir: str, suffix: str) -> None:
    """The main plan plus each materialize_once input's plan: localCheckpoint
    truncates lineage, so the top-level explain of a checkpointed operator
    hides the exchanges below the checkpoint; the tap records each input's
    plan during query construction."""
    os.makedirs(plans_dir, exist_ok=True)
    buf = io.StringIO()
    with capture_preckpt_plans() as taps:
        df = q.spark(spark, sf)
        with redirect_stdout(buf):
            df.explain("formatted")
    short = name.split("_", 1)[0]
    with open(os.path.join(plans_dir, f"{short}_{suffix}.txt"), "w") as f:
        f.write(f"# {name} — explain('formatted') at {sf}\n")
        f.write(buf.getvalue())
        for i, sub in enumerate(taps):
            f.write(
                f"\n# --- pre-checkpoint subplan {i + 1}/{len(taps)} "
                "(materialize_once input; lineage truncated in the "
                "main plan above) ---\n"
            )
            f.write(sub)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--runs", type=positive_int, default=3)
    ap.add_argument("--plans", default=None, help="directory to write explain('formatted') files")
    ap.add_argument("--suffix", default="before", help="plan file suffix (before/after)")
    args = ap.parse_args()

    spark = get_spark("measure")
    queries = all_queries()
    warm_up(spark, queries, args.sf)

    medians: dict[str, float] = {}
    for name in args.names:
        q = queries[name]
        if args.plans:
            write_plans(spark, name, q, args.sf, args.plans, args.suffix)
        time_query(spark, q, args.sf)  # untimed warm run
        samples = [round(time_query(spark, q, args.sf), 3) for _ in range(args.runs)]
        medians[name] = round(statistics.median(samples), 3)
        print(json.dumps({name: {"median": medians[name], "samples": samples}}), flush=True)

    print(json.dumps({"summary": medians}))


if __name__ == "__main__":
    main()
