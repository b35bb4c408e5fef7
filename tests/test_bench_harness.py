"""bench.py measurement protocol pins.

The stub tests drive bench_batch_corpus / stream_median with stub queries
and a stub session; the smoke test times two real queries at sf0.001.
"""

from __future__ import annotations

import json
import os
import random
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench


class _NoopWrite:
    def format(self, *_):
        return self

    def mode(self, *_):
        return self

    def save(self, *_):
        return None


class _Result:
    write = _NoopWrite()


class _FlakyQuery:
    """Raises on the first ``fail_times`` calls, succeeds after."""

    def __init__(self, name: str, fail_times: int = 0):
        self.name = name
        self.fail_times = fail_times
        self.calls = 0

    def spark(self, _spark, _sf):
        self.calls += 1
        if self.calls <= self.fail_times:
            raise RuntimeError("transient stall")
        return _Result()


class _StubContext:
    def __init__(self):
        self.descriptions: list[str | None] = []

    def setJobDescription(self, d):
        self.descriptions.append(d)


class _StubSpark:
    def __init__(self):
        self.sparkContext = _StubContext()


def _corpus(**fail_times):
    """(queries, samples, errors, job descriptions) of one batch phase."""
    spark = _StubSpark()
    queries = {n: _FlakyQuery(n, k) for n, k in fail_times.items()}
    samples, errors = bench.bench_batch_corpus(spark, queries, list(queries), "sf")
    return queries, samples, errors, spark.sparkContext.descriptions


def test_every_query_is_timed_once_per_pass_in_seeded_order():
    names = [f"q{i:02d}" for i in range(20)]
    queries, samples, errors, descriptions = _corpus(**dict.fromkeys(names, 0))
    assert errors == {}
    assert all(len(s) == bench.PASSES for s in samples.values())
    orders = []
    for p in range(bench.PASSES):
        orders.append(list(names))
        random.Random(p).shuffle(orders[-1])
    assert orders[0] != orders[1]
    # each run is labeled with its query, and the label is cleared after it
    assert descriptions[0::2] == [n for order in orders for n in order]
    assert set(descriptions[1::2]) == {None}


def test_pass1_error_is_retried_and_cleared():
    queries, samples, errors, _ = _corpus(q_ok=0, q_flaky=1)
    assert errors == {}
    assert len(samples["q_flaky"]) == bench.PASSES - 1
    assert queries["q_flaky"].calls == bench.PASSES


def test_persistent_error_stays_recorded():
    _, samples, errors, _ = _corpus(q_dead=10)
    assert "transient stall" in errors["q_dead"]
    assert samples == {"q_dead": []}


def test_ceiling_stops_the_loop(monkeypatch):
    """Past CEILING_S no query starts: with the ceiling at zero the first
    check already trips, and every query is left without a sample."""
    monkeypatch.setattr(bench, "CEILING_S", 0.0)
    queries, samples, errors, _ = _corpus(q_a=0, q_b=0)
    assert errors == {}
    assert all(q.calls == 0 for q in queries.values())
    assert all(s == [] for s in samples.values())


def _timed(samples):
    it = iter(samples)

    def timed():
        s = next(it)
        if isinstance(s, Exception):
            raise s
        return s

    return timed


def _stream(samples):
    att, low, errs = {}, {}, {}
    median = bench.stream_median("cdc", _timed(samples), att, low, errs, "_cdc")
    return median, att, low, errs


def test_stream_at_record_level_takes_no_extra_attempts():
    exp = bench.STREAM_EXPECTED["cdc"]
    median, att, low, errs = _stream([exp, 0.5 * exp, 0.9 * exp, 0.1 * exp])
    assert median == 0.9 * exp
    assert att == {"cdc": bench.STREAM_RUNS}
    assert low == {} and errs == {}


def test_stream_persistent_shortfall_is_flagged_with_attempts():
    """A median under (1 - STREAM_TOL) x book is recorded as measured,
    never clamped, and lands in the low dict as [measured, expected]."""
    exp = bench.STREAM_EXPECTED["cdc"]
    median, att, low, _ = _stream([0.6 * exp] * bench.STREAM_RUNS)
    assert median == 0.6 * exp
    assert att == {"cdc": bench.STREAM_RUNS}
    assert low == {"cdc": [0.6 * exp, exp]}


def test_summary_line_carries_attempts_and_slow_flags():
    """"satt", "slow", the per-figure "sload" and "reps" survive into the
    one parsed stdout line; a clean line carries none of them."""
    line = json.loads(
        bench.build_summary_line(
            {"q01_x": 1.0}, 1.0, "0.1", 0, 1.0, 1.0, 1.0, 1.0,
            stream_attempts={"cdc": 3, "win": 2, "ses": 3, "ssj": 3},
            stream_low={"ses": [50000.0, 140386.0]},
            stream_loads={"cdc": [0.2], "win": [0.1]},
            reps=3,
        )
    )
    assert line["satt"] == [3, 2, 3, 3]
    assert line["slow"] == ["ses"]
    assert line["sload"] == [0.2, 0.1, 0.0, 0.0]
    assert line["reps"] == 3
    clean = json.loads(bench.build_summary_line({"q01_x": 1.0}, 1.0, "0.1", 0, 1.0, 1.0, 1.0, 1.0))
    assert not {"satt", "slow", "sload", "reps"} & set(clean)


def test_raise_after_samples_keeps_measurements_and_records_error():
    exp = bench.STREAM_EXPECTED["cdc"]
    median, att, low, errs = _stream([0.5 * exp, exp, RuntimeError("storm kill")])
    assert median == 0.75 * exp  # the two real samples survive
    assert att["cdc"] == 3  # two samples + the run that raised
    assert "storm kill" in errs["_cdc"]
    assert low == {"cdc": [0.75 * exp, exp]}


def test_raise_before_any_sample_propagates():
    att = {}
    with pytest.raises(RuntimeError):
        bench.stream_median("cdc", _timed([RuntimeError("dead sink")]), att, {}, {}, "_cdc")
    assert att["cdc"] == 1  # the run that raised is still counted


def test_stream_shuffle_partition_sizing():
    """Partitions follow declared per-trigger volume, not cluster width:
    state stores cost per partition per micro-batch (measured 1.6-2.8x on
    the stateful benches going 32 -> 4 partitions at the single 100k-row
    availableNow batch the file source actually produces)."""
    from mrcond_spark.streaming.sizing import stream_shuffle_partitions

    assert stream_shuffle_partitions(100_000) == 4  # the bench trigger size
    assert stream_shuffle_partitions(5_000) == 1  # CDC bench trigger
    assert stream_shuffle_partitions(0) == 1
    assert stream_shuffle_partitions(32_768) == 1
    assert stream_shuffle_partitions(32_769) == 2
    # 100 TB-scale trigger: the rule scales out, and max_parts binds
    assert stream_shuffle_partitions(10_000_000) == 306
    assert stream_shuffle_partitions(10_000_000, max_parts=128) == 128
    with pytest.raises(ValueError, match="rows_per_trigger"):
        stream_shuffle_partitions(-1)
    with pytest.raises(ValueError, match="positive"):
        stream_shuffle_partitions(10, rows_per_task=0)
    # contradictory bounds raise loudly instead of silently resolving
    with pytest.raises(ValueError, match="contradictory"):
        stream_shuffle_partitions(100_000, min_parts=8, max_parts=4)
    # a consistent pair still clamps both ways
    assert stream_shuffle_partitions(100_000, min_parts=8, max_parts=8) == 8


def test_sized_stream_parts_sets_and_restores_conf():
    """The bench context manager must leave the batch corpus's shuffle
    setting exactly as it found it, success or raise."""

    class _Conf:
        def __init__(self):
            self.vals = {"spark.sql.shuffle.partitions": "32"}

        def get(self, k):
            return self.vals[k]

        def set(self, k, v):
            self.vals[k] = v

    class _Spark:
        conf = _Conf()

    spark = _Spark()
    with bench._sized_stream_parts(spark, 100_000):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    with pytest.raises(RuntimeError):
        with bench._sized_stream_parts(spark, 100_000):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_batch_protocol_on_real_queries(spark, sf_dir):
    """Smoke: two sf0.001 queries through the shared timing function get
    PASSES samples each, and their medians make a parseable line."""
    from mrcond_spark.queries import all_queries

    names = ["q01_scan_project", "q02_filter"]
    samples, errors = bench.bench_batch_corpus(spark, all_queries(), names, sf_dir)
    assert errors == {}
    assert {n: len(s) for n, s in samples.items()} == dict.fromkeys(names, bench.PASSES)
    timings = {n: sorted(s)[len(s) // 2] for n, s in samples.items()}
    line = json.loads(
        bench.build_summary_line(timings, sum(timings.values()), "0.001", 0, 1.0, 1.0, 1.0, 1.0, reps=bench.PASSES)
    )
    assert line["n"] == 2 and line["reps"] == bench.PASSES
    assert set(line["queries"]) == {"01", "02"}


def test_core_count_env_is_read_only_by_the_session_factory():
    """SPARK_GRAFT_CPUS is read in one place, mrcond_spark/session.py;
    everything else takes get_spark's default."""
    read = re.compile(r"(?:environ\.get\(|environ\[|getenv\()\s*['\"]SPARK_GRAFT_CPUS")
    files = [os.path.join(ROOT, "bench.py")]
    for top in ("mrcond_spark", "tools", "tests"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    readers = sorted(os.path.relpath(f, ROOT) for f in files if read.search(open(f).read()))
    assert readers == [os.path.join("mrcond_spark", "session.py")]
