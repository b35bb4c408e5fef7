#!/usr/bin/env python
"""Benchmark harness: runs the declared query corpus at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on the session factory's default core count
and prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full execution, no
collect/driver materialization — same discipline as a cluster run).

Measurement protocol (fixed; no retries, no load-dependent waits):

- warm-up: q54 (Python worker pool), q56/q57 at sf0.001 (MLlib
  classloading), q01, a JVM GC and a 2 s settle;
- streaming: each figure warms once, then runs STREAM_RUNS timed runs and
  reports their median;
- batch: PASSES passes over every query, pass p in ``random.Random(p)``
  shuffled order; a query's figure is the median of its samples and the
  line's value is the sum of the medians. No pass starts a query once
  CEILING_S has gone by since the batch phase began.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mrcond_spark.queries import all_queries  # noqa: E402
from mrcond_spark.session import get_spark  # noqa: E402
from mrcond_spark.streaming import windows  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The round driver records EXACTLY the last 2000 chars of bench.py stdout and
# json-parses the FINAL line — a longer line loses its head and the round's
# BENCH artifact parses to null (it happened to rounds 1-2). Budget the line
# at 1950 to leave newline + cleanup margin.
LINE_BUDGET = 1950

#: Streaming figures on the books (events/sec), taken from the cleanest
#: recorded runs (BENCH_r11 / BENCH_r11_c8, the minimum of the pair). Used
#: only to flag a median below (1 - STREAM_TOL) x book as "slow"; never to
#: clamp or replace a measurement.
STREAM_EXPECTED = {"cdc": 17049.0, "win": 169458.0, "ses": 140386.0, "ssj": 44526.0}
STREAM_TOL = 0.15
#: timed runs per streaming figure, after one warm run
STREAM_RUNS = 3
#: timed passes over the batch corpus
PASSES = 3
#: the batch loop starts no query after this many seconds
CEILING_S = 800.0


def _norm_load() -> float:
    """1-minute loadavg per CPU; 0.0 where unavailable (non-POSIX)."""
    try:
        return os.getloadavg()[0] / (os.cpu_count() or 1)
    except OSError:  # pragma: no cover — platform without getloadavg
        return 0.0


def _compact_secs(v: float) -> float | int:
    # 1-decimal seconds under 10 s (floored at 0.1 so a fast query never
    # prints a dead-looking 0.0), integer seconds at >= 10 s; full-precision
    # timings stay on stderr (queries_full).
    if v >= 9.95:
        return int(round(v))
    return max(0.1, round(v, 1))


def build_summary_line(
    timings: dict[str, float],
    total: float,
    sf: str,
    n_errors: int,
    cdc_eps: float,
    win_eps: float,
    sess_eps: float,
    ssj_eps: float,
    stream_attempts: dict[str, int] | None = None,
    stream_low: dict[str, list[float]] | None = None,
    stream_loads: dict[str, list[float]] | None = None,
    reps: int | None = None,
) -> str:
    """The ONE stdout line the driver tails. Compact by construction (bare
    query numbers as keys — the 'q' prefix carries no information; no-space
    separators; streaming events/sec as integers), and degrades GRACEFULLY
    as the corpus grows instead of silently overflowing the driver tail:

    1. preferred: per-query seconds at 1-decimal resolution;
    2. if the line would exceed LINE_BUDGET: integer-second per-query values,
       self-described by ``"coarse":1`` (ceiling ~215 queries);
    3. if still over: drop the "sload" annotation;
    4. if still over: drop the FASTEST queries' entries, self-described by
       ``"qdrop":k`` (never silent — the count of omitted entries is on the
       line, and their full-precision timings are on stderr either way).

    cdc/win/ses/ssj = events/sec (CDC pipeline, windowed agg, session
    windows, stream-stream join). "satt" = timed streaming runs that
    executed, in cdc/win/ses/ssj order; "slow" = figures whose median is
    under (1 - STREAM_TOL) x STREAM_EXPECTED; "sload" = per-figure
    normalized host load (1-min loadavg / CPUs) sampled before the figure,
    present only when a figure is slow; "reps" = the fewest batch samples
    any query got.
    """
    satt = stream_attempts or {}
    slow = sorted(stream_low) if stream_low else []
    loads = stream_loads or {}
    sload = [(loads.get(s) or [0.0])[0] for s in ("cdc", "win", "ses", "ssj")]

    def line_for(compact: dict[str, float | int], extra: dict, with_load: bool = True) -> str:
        return json.dumps(
            {
                "metric": "corpus_wall_s",
                "value": total,
                "unit": "sec",
                "queries": compact,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "n": len(timings),
                "cdc": int(round(cdc_eps)),
                "win": int(round(win_eps)),
                "ses": int(round(sess_eps)),
                "ssj": int(round(ssj_eps)),
                "errs": n_errors,
                **({"satt": [satt.get(s, 0) for s in ("cdc", "win", "ses", "ssj")]} if satt else {}),
                **({"reps": reps} if reps is not None else {}),
                **({"slow": slow} if slow else {}),
                **({"sload": sload} if slow and with_load else {}),
                **extra,
            },
            separators=(",", ":"),
        )

    key = lambda n: n.split("_", 1)[0].lstrip("q")  # noqa: E731
    line = line_for({key(n): _compact_secs(v) for n, v in timings.items()}, {})
    if len(line) <= LINE_BUDGET:
        return line
    coarse = {key(n): int(round(v)) for n, v in timings.items()}
    line = line_for(coarse, {"coarse": 1})
    if len(line) <= LINE_BUDGET:
        return line
    line = line_for(coarse, {"coarse": 1}, with_load=False)
    if len(line) <= LINE_BUDGET:
        return line
    by_speed = sorted(timings, key=lambda n: (-timings[n], n))
    for k in range(1, len(by_speed)):
        kept = by_speed[: len(by_speed) - k]
        line = line_for(
            {key(n): int(round(timings[n])) for n in kept},
            {"coarse": 1, "qdrop": k},
            with_load=False,
        )
        if len(line) <= LINE_BUDGET:
            return line
    return line_for({}, {"coarse": 1, "qdrop": len(timings)}, with_load=False)


@contextmanager
def _sized_stream_parts(spark, rows_per_trigger: int):
    """Set spark.sql.shuffle.partitions to the volume-sized count for a
    streaming query (mrcond_spark.streaming.sizing — state-store instances
    cost per partition per micro-batch, so a single 100k-row availableNow
    batch wants ~4 partitions, not cluster width; measured 1.6-2.8x on the
    stateful benches), restoring the batch setting afterwards."""
    from mrcond_spark.streaming.sizing import stream_shuffle_partitions

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(stream_shuffle_partitions(rows_per_trigger)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _write_json_parts(events_dir: str, n_events: int, row) -> None:
    """``n_events`` JSON lines ``row(i)`` split over 4 files."""
    os.makedirs(events_dir, exist_ok=True)
    per_file = n_events // 4
    for b in range(4):
        with open(os.path.join(events_dir, f"b{b}.json"), "w") as f:
            for i in range(b * per_file, (b + 1) * per_file):
                f.write(json.dumps(row(i)) + "\n")


def bench_streaming(spark, n_events: int = 20000) -> float:
    """CDC pipeline throughput: replay n_events through the full
    file-source -> foreachBatch -> ordered queue-publish path; returns
    events/sec. (The reference's path is one publish + confirm + token write
    per event; ours amortizes per micro-batch.)"""
    from mrcond_spark.streaming.sink import MemoryPublisher
    from mrcond_spark.streaming.source import file_replay_stream
    from mrcond_spark.streaming.pipeline import start_cdc_query

    tmp = tempfile.mkdtemp(prefix="bench-cdc-")
    try:
        events_dir = os.path.join(tmp, "events")
        _write_json_parts(
            events_dir,
            n_events,
            lambda i: {
                "_id": f"{i:012d}",
                "operationType": "insert",
                "clusterTime": "2024-01-01T00:00:00.000Z",
                "ns": {"db": "bench", "coll": "c"},
                "documentKey": json.dumps({"_id": i}),
                "fullDocument": json.dumps({"i": i, "payload": "x" * 64}),
            },
        )
        name = f"bench-{uuid.uuid4().hex[:8]}"
        pub = MemoryPublisher.named(name)
        with _sized_stream_parts(spark, n_events // 4):
            t0 = time.perf_counter()
            cq = start_cdc_query(
                file_replay_stream(spark, events_dir, max_files_per_trigger=1),
                pub,
                name,
                os.path.join(tmp, "ckpt"),
                available_now=True,
            )
            cq.query.awaitTermination(300)
            elapsed = time.perf_counter() - t0
        delivered = len(pub.messages[name])
        MemoryPublisher.reset(name)
        return round(delivered / elapsed, 1) if elapsed > 0 else 0.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _write_event_files(events_dir: str, n_events: int, ts_offset_s: int = 0) -> None:
    """4 JSON-line files of synthetic events. NOTE: without a
    maxFilesPerTrigger option the file source drains ALL of them in ONE
    availableNow micro-batch (verified via recentProgress) — size state
    partitions for n_events rows per trigger, not n_events/4."""
    base = dt.datetime(2024, 1, 1)
    _write_json_parts(
        events_dir,
        n_events,
        lambda i: {
            "event_id": i,
            "ts": (base + dt.timedelta(seconds=i % 86400 + ts_offset_s)).strftime("%Y-%m-%dT%H:%M:%S"),
            "user_id": i % 997,
            "event_type": ["view", "click", "buy"][i % 3],
            "value": float(i % 100),
        },
    )


EVENT_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"


def _stream_bench(
    spark,
    prefix: str,
    make_stream,
    output_mode: str,
    count_expr: str,
    events_total: int,
    divide_by_count: bool,
) -> float:
    """Shared memory-sink harness for the streaming throughput benches:
    availableNow drain into a uuid-named memory table, honesty rules applied
    uniformly — either divide by what actually LANDED in the snapshot
    (``divide_by_count=True``: stateful aggs, where partial output is still
    honest work/sec), or require a finished drain with non-empty output and
    divide by the nominal input (joins, where output size != input size) and
    report 0.0 otherwise rather than an inflated figure."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        # state partitions sized to the per-trigger volume: the file source
        # with no maxFilesPerTrigger drains ALL event files in ONE
        # availableNow micro-batch (verified via recentProgress:
        # numInputRows == events_total), frozen into the state layout at
        # first start per the Structured Streaming contract
        with _sized_stream_parts(spark, events_total):
            agg = make_stream(tmp)
            name = f"bench{uuid.uuid4().hex[:8]}"
            t0 = time.perf_counter()
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            finished = q.awaitTermination(300)
            elapsed = time.perf_counter() - t0
            if not finished:
                q.stop()  # don't leave a live query writing into a dir we delete
        counted = spark.sql(f"SELECT {count_expr} AS c FROM {name}").collect()[0]["c"]
        spark.catalog.dropTempView(name)
        if divide_by_count:
            return round(counted / elapsed, 1) if elapsed > 0 else 0.0
        if not finished or counted == 0 or elapsed <= 0:
            return 0.0
        return round(events_total / elapsed, 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _event_agg_bench(spark, prefix: str, aggregate, n_events: int) -> float:
    """Drain n_events synthetic events through ``aggregate(stream)`` into a
    complete-mode memory table; events/sec over what the snapshot actually
    aggregated."""

    def make(tmp: str):
        events_dir = os.path.join(tmp, "events")
        _write_event_files(events_dir, n_events)
        return aggregate(spark.readStream.schema(EVENT_SCHEMA).json(events_dir))

    return _stream_bench(spark, prefix, make, "complete", "COALESCE(SUM(cnt), 0)", n_events, True)


def bench_windowed_stream(spark, n_events: int = 100_000) -> float:
    """Watermarked tumbling-window aggregation throughput (S5+S6). Unlike
    the CDC path there is no serial per-queue drain — this measures the
    distributed stateful-agg path."""
    return _event_agg_bench(
        spark, "bench-win-", lambda s: windows.tumbling_counts(s, duration="5 minutes"), n_events
    )


def bench_session_stream(spark, n_events: int = 100_000) -> float:
    """S7 throughput: gap-based session windows per user. Session windows are
    the heaviest stateful-agg shape (merge-on-overlap state, not fixed
    buckets), so this bounds the custom-sessionization path."""
    return _event_agg_bench(spark, "bench-sess-", lambda s: windows.session_counts(s, gap="5 minutes"), n_events)


def bench_stream_stream_join(spark, n_events_per_side: int = 50_000) -> float:
    """S10 throughput: watermarked stream-stream join (15-minute bounded
    range on user_id); INPUT events/sec (both sides). The right side is the
    left shifted +30 s, so every left row has at least one in-range match —
    the harness requires a finished drain with non-zero matches."""

    def make(tmp: str):
        _write_event_files(os.path.join(tmp, "left"), n_events_per_side)
        _write_event_files(os.path.join(tmp, "right"), n_events_per_side, ts_offset_s=30)
        left = spark.readStream.schema(EVENT_SCHEMA).json(os.path.join(tmp, "left"))
        right = spark.readStream.schema(EVENT_SCHEMA).json(os.path.join(tmp, "right"))
        return windows.stream_stream_join(left, right, key="user_id").select(
            F.col("l.event_id").alias("l_id"), F.col("r.event_id").alias("r_id")
        )

    return _stream_bench(
        spark, "bench-ssj-", make, "append", "COUNT(*)", 2 * n_events_per_side, False
    )


def stream_median(
    short: str,
    timed,
    attempts_out: dict[str, int],
    low_out: dict[str, list[float]],
    errors_out: dict[str, str],
    err_key: str,
) -> float:
    """Median of STREAM_RUNS timed runs of one streaming figure.

    ``attempts_out[short]`` counts the runs that executed, the one that
    raised included. A raise after at least one sample stops the figure,
    keeps the samples and records the error; a raise before any sample
    propagates (the caller records 0.0 plus the error). A median under
    (1 - STREAM_TOL) x STREAM_EXPECTED lands in ``low_out`` as
    [measured, expected]."""
    samples: list[float] = []
    for run in range(1, STREAM_RUNS + 1):
        attempts_out[short] = run
        try:
            samples.append(timed())
        except Exception as e:  # noqa: BLE001 — artifact-preservation rule
            if not samples:
                raise
            errors_out[err_key] = f"{type(e).__name__}: {e}"[:120]
            break
    median = statistics.median(samples)
    if median < (1.0 - STREAM_TOL) * STREAM_EXPECTED[short]:
        low_out[short] = [median, STREAM_EXPECTED[short]]
    return median


def time_query(spark, query, sf_dir: str) -> float:
    """Wall seconds of one noop-sink run of ``query``; its Spark jobs carry
    the query's name as their job description."""
    sc = spark.sparkContext
    sc.setJobDescription(query.name)
    try:
        t0 = time.perf_counter()
        query.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    finally:
        sc.setJobDescription(None)


def warm_up(spark, queries, sf_dir: str) -> None:
    """Warm the JVM, parquet footers and the Python worker pool before any
    timed run: q54 drives a pandas-UDF stage on every core, so all workers
    fork and import numpy here; q56/q57 at sf0.001 load the MLlib classes
    (KMeans, HashingTF, MinHashLSH, fallback BLAS), several seconds of
    classloading. A trivial query, a GC and a settle pause follow so the
    first timed query does not absorb post-warm-up churn."""
    warm_small = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_small):
        warm_small = sf_dir
    for name, sf in (
        ("q54_embedding_near_dup", sf_dir),
        ("q56_ann_ivf", warm_small),
        ("q57_mllib_minhash_pairs", warm_small),
        ("q01_scan_project", sf_dir),
    ):
        time_query(spark, queries[name], sf)
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)


def bench_batch_corpus(
    spark, queries, names: list[str], sf_dir: str = SF_DIR
) -> tuple[dict[str, list[float]], dict[str, str]]:
    """PASSES passes over ``names``, pass p in ``random.Random(p)`` order,
    each query timed once per pass. Returns (samples per query, errors).

    A query is an error only while it has no sample: a later success
    clears an earlier error, and a later failure does not taint an earlier
    sample. No query starts after CEILING_S; the per-pass walls go to
    stderr."""
    t0 = time.perf_counter()
    samples: dict[str, list[float]] = {n: [] for n in names}
    errors: dict[str, str] = {}
    pass_s: list[float] = []
    for p in range(PASSES):
        if time.perf_counter() - t0 > CEILING_S:
            break
        order = list(names)
        random.Random(p).shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            if time.perf_counter() - t0 > CEILING_S:
                break
            try:
                samples[name].append(round(time_query(spark, queries[name], sf_dir), 3))
            except Exception as e:  # noqa: BLE001 — one broken query must not cost the artifact
                if not samples[name]:
                    errors[name] = f"{type(e).__name__}: {e}"[:120]
            else:
                errors.pop(name, None)
        pass_s.append(round(time.perf_counter() - p0, 1))
    print(json.dumps({"pass_s": pass_s}), file=sys.stderr)
    return samples, errors


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return round(q3 - q1, 3)


def main() -> None:
    spark = get_spark("mrcond-bench")
    queries = all_queries()
    warm_up(spark, queries, SF_DIR)

    # Streaming first, so the batch passes never push it into a later, busier
    # part of the run. The first replay pays one-time stream-planning,
    # state-store and Python-worker costs a long-running CDC daemon never
    # re-pays, hence the warm run per figure.
    stream_errors: dict[str, str] = {}
    stream_attempts: dict[str, int] = {}
    stream_low: dict[str, list[float]] = {}
    stream_loads: dict[str, list[float]] = {}

    def stream_figure(short, err_key, warm, timed):
        """Warm once, then the median of STREAM_RUNS (see stream_median). A
        raise before any sample records 0.0 plus the error."""
        stream_loads[short] = [round(_norm_load(), 2)]
        try:
            warm()
            return stream_median(short, timed, stream_attempts, stream_low, stream_errors, err_key)
        except Exception as e:  # noqa: BLE001 — artifact-preservation rule
            stream_errors[err_key] = f"{type(e).__name__}: {e}"[:120]
            stream_attempts.setdefault(short, 0)
            return 0.0

    # figure -> (error key, bench, warm-run size)
    figures = {
        "cdc": ("_cdc_stream", bench_streaming, {"n_events": 2000}),
        "win": ("_windowed_stream", bench_windowed_stream, {"n_events": 10_000}),
        "ses": ("_session_stream", bench_session_stream, {"n_events": 10_000}),
        "ssj": ("_stream_stream_join", bench_stream_stream_join, {"n_events_per_side": 5_000}),
    }
    eps = {
        short: stream_figure(short, err_key, lambda: run(spark, **warm_size), lambda: run(spark))
        for short, (err_key, run, warm_size) in figures.items()
    }
    if stream_low:
        print(
            json.dumps({"stream_below_expectation": stream_low, "stream_attempts": stream_attempts,
                        "stream_loads": stream_loads}),
            file=sys.stderr,
        )

    samples, errors = bench_batch_corpus(spark, queries, sorted(queries))
    errors.update(stream_errors)
    timings = {n: round(statistics.median(s), 3) for n, s in samples.items() if s}
    reps = min((len(s) for s in samples.values()), default=0)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Full names, samples and spread go to stderr for humans; stdout carries
    # exactly ONE compact line within LINE_BUDGET (see build_summary_line).
    full = {n: {"median": timings[n], "samples": s, "iqr": _iqr(s)} for n, s in samples.items() if s}
    print(json.dumps({"queries_full": full, "errors": errors}), file=sys.stderr)
    print(
        build_summary_line(
            timings, total, sf, len(errors), eps["cdc"], eps["win"], eps["ses"], eps["ssj"],
            stream_attempts=stream_attempts,
            stream_low=stream_low,
            stream_loads=stream_loads,
            reps=reps,
        )
    )


if __name__ == "__main__":
    main()
