"""Tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_tiny.jsonl")


# ---- percentile rule -------------------------------------------------------
@pytest.mark.parametrize("n", [20, 21, 39, 40, 42, 100, 179, 1200, 5000])
def test_tail_percentile_is_highest_with_ten_beyond(n):
    p = common.tail_percentile(n)
    assert common.beyond(n, p) >= 10
    assert p == 99 or common.beyond(n, p + 1) < 10


def test_tail_percentile_known_counts():
    # 179 queries: p94 keeps 10 beyond (ceil(0.94*179)=169); p90 keeps 17
    assert common.tail_percentile(179) == 94
    assert common.beyond(179, 90) == 17
    assert common.tail_percentile(42) == 76
    assert common.tail_percentile(10) is None


def test_fixed_tail_percentiles_are_supported_by_minimum_samples():
    # corpus: one wall per sampled query and pass; stream: one lag per tail
    # file and segment
    import batch
    import run
    import stream

    assert common.beyond(len(batch.SAMPLE) * run.MIN_UNITS, run.TAIL_P["corpus"]) >= 10
    assert common.beyond(stream.TAIL_FILES * run.MIN_UNITS, run.TAIL_P["stream"]) >= 10


def test_run_cut_below_minimum_units_fails():
    # past the hard stop a run may end early, but never below MIN_UNITS
    import time

    import run

    late = time.perf_counter() - run.HARD_STOP_S - 1
    assert run.more_units(0, "corpus", 16, time.perf_counter())
    assert not run.more_units(run.MIN_UNITS, "corpus", 1000, late)
    with pytest.raises(run.ShortRun):
        run.more_units(run.MIN_UNITS - 1, "corpus", 1000, late)


def test_summary_states_sample_count_and_beyond():
    s = common.summary([float(i) for i in range(1, 101)], 90)
    assert s["n"] == 100 and s["beyond_tail"] == 10
    assert s["p50"] == 50.5 and s["tail"] == 90.0
    assert s["highest_supported_p"] == 90


def test_percentile_is_nearest_rank():
    assert common.percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50) == 3.0
    assert common.percentile([5.0, 1.0, 3.0, 2.0, 4.0], 100) == 5.0
    with pytest.raises(ValueError):
        common.percentile([], 50)


# ---- open-loop lag ---------------------------------------------------------
def test_lag_is_measured_from_due_time_not_write_time():
    due, written, published = 100.0, 100.4, 100.5  # generator ran 400 ms late
    assert common.lag_ms(published, due) == pytest.approx(500.0)
    assert common.lag_ms(published, written) == pytest.approx(100.0)


def test_stall_charges_every_later_event():
    # events due every 100 ms; the pipeline stalls and publishes all at t=1.0
    dues = [i * 0.1 for i in range(10)]
    lags = [common.lag_ms(1.0, d) for d in dues]
    assert lags == sorted(lags, reverse=True)
    assert lags[0] == pytest.approx(1000.0) and lags[-1] == pytest.approx(100.0)


# ---- event log ---------------------------------------------------------------
def test_event_log_parser_on_fixture():
    with open(FIXTURE) as f:
        log = eventlog.parse_lines(f)
    assert sorted(log.jobs) == [0, 1]
    job0 = log.jobs[0]
    assert job0.group == "run:0:q01_scan_project"
    assert (job0.start, job0.end) == (1000.0, 1000.45)
    t = log.totals([job0], wall_s=1.0, cores=4)
    assert t["operators.jobs"] == 1 and t["operators.stages"] == 2 and t["operators.tasks"] == 4
    assert t["operators.task_s"] == pytest.approx(0.5)
    assert t["operators.task_cpu_s"] == pytest.approx(0.41)
    assert t["operators.gc_s"] == pytest.approx(0.02)
    assert t["operators.slot_idle_frac"] == pytest.approx(0.875)
    assert t["operators.shuffle_write_bytes"] == 1000 and t["operators.shuffle_read_bytes"] == 2000
    assert t["operators.spill_bytes"] == 96
    assert t["operators.task_skew"] == pytest.approx(1.5)
    assert t["operators.failed_tasks"] == 1
    assert t["catalog.input_bytes"] == 4000 and t["catalog.input_rows"] == 40
    assert log.stages[0].start == 1000.005 and log.stages[0].end == 1000.32


def test_driver_gap_is_wall_outside_job_intervals():
    with open(FIXTURE) as f:
        log = eventlog.parse_lines(f)
    assert log.driver_gap_s(1000.0, 1001.0, [log.jobs[0]]) == pytest.approx(0.55)
    assert log.driver_gap_s(1000.0, 1001.0, list(log.jobs.values())) == pytest.approx(0.45)


# ---- spans -----------------------------------------------------------------
def test_self_time_subtracts_union_of_children():
    tr = common.Tracer("r", enabled=True)
    q = tr.add("query", 0.0, 10.0)
    tr.add("build", 0.0, 4.0, q)
    tr.add("execute", 3.0, 9.0, q)  # overlaps build: union is [0, 9]
    st = tr.self_times()
    assert st[q] == pytest.approx(1.0)
    assert tr.dump()["run_id"] == "r"


def test_spans_nest_under_the_innermost_open_span():
    tr = common.Tracer("r", enabled=True)
    with tr.span("workload") as w:
        with tr.span("pass") as p:
            with tr.span("query"):
                pass
        with tr.span("round"):
            pass
    parents = {s["name"]: s["parent"] for s in tr.spans}
    assert parents == {"workload": None, "pass": w, "query": p, "round": w}
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = common.Tracer("r", enabled=False)
    with tr.span("x") as sid:
        assert sid is None
    assert tr.spans == []


# ---- generators --------------------------------------------------------------
def test_generators_are_deterministic_per_seed():
    assert gen.cdc_envelopes(7, 300) == gen.cdc_envelopes(7, 300)
    assert gen.stateful_events(7, 600, 3) == gen.stateful_events(7, 600, 3)
    assert gen.query_orders(7, ["a", "b", "c", "d"], 3) == gen.query_orders(7, ["d", "c", "b", "a"], 3)
    assert gen.query_orders(7, list("abcdefgh"), 2) != gen.query_orders(8, list("abcdefgh"), 2)
    assert gen.cdc_envelopes(7, 300) != gen.cdc_envelopes(8, 300)
    assert gen.stateful_events(7, 600, 3) != gen.stateful_events(8, 600, 3)


def test_written_files_are_identical_per_seed(tmp_path):
    for d in ("a", "b"):
        os.makedirs(tmp_path / d)
        gen.write_jsonl(str(tmp_path / d / "x.json"), gen.cdc_envelopes(3, 50))
    assert (tmp_path / "a" / "x.json").read_bytes() == (tmp_path / "b" / "x.json").read_bytes()
    assert not [p for p in os.listdir(tmp_path / "a") if p.startswith(".")]


def test_cdc_envelopes_shape():
    env = gen.cdc_envelopes(1, 2000)
    tokens = [e["_id"] for e in env]
    assert tokens == sorted(tokens) and len(set(tokens)) == len(tokens)
    ops = {e["operationType"] for e in env}
    assert ops == {"insert", "update", "replace", "delete"}
    assert all((e["fullDocument"] is None) == (e["operationType"] == "delete") for e in env)
    sizes = sorted(len(e["fullDocument"]) for e in env if e["fullDocument"])
    assert sizes[-1] > 10 * sizes[len(sizes) // 2]  # heavy tail
    json.loads(env[0]["documentKey"])


def test_stateful_events_skew_and_disorder():
    files = gen.stateful_events(1, 3000, 3)
    rows = [r for f in files for r in f]
    users = [r["user_id"] for r in rows]
    top = max(set(users), key=users.count)
    assert users.count(top) > 10 * len(rows) / len(set(users))  # Zipf-hot user
    for f in files:
        ts = [r["ts"] for r in f]
        assert ts != sorted(ts)  # out of order inside a trigger
    for a, b in zip(files, files[1:]):
        assert max(r["ts"] for r in a) < min(r["ts"] for r in b)  # files ordered


# ---- BENCHMARK.json agrees with the command ------------------------------
def test_benchmark_json_matches_the_metrics_the_command_prints():
    import re

    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) and max(bounds.values()) <= 0.25
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    # the run length in BENCHMARK.json gives each workload its intended units
    assert run.unit_count("corpus", spec["run_seconds"]) == 4
    assert run.unit_count("stream", spec["run_seconds"]) == 3


# ---- stateful references ---------------------------------------------------
def _duck_with(rows_by_view):
    import duckdb

    con = duckdb.connect()
    for view, rows in rows_by_view.items():
        con.execute(f"CREATE TABLE {view} (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, value DOUBLE)")
        for r in rows:
            con.execute(f"INSERT INTO {view} VALUES (?, make_timestamp(? * 1000), ?, 'view', 1.0)", r)
    return con


def test_session_reference_merges_events_exactly_one_gap_apart():
    # Spark's session_window keeps an event exactly one gap (5 min) after the
    # previous one in the same session; only a longer gap starts a new one
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    import stream

    con = _duck_with({"events": [(1, 0, 7), (2, 300_000, 7), (3, 600_001, 7)]})
    assert sorted(con.execute(stream.SES_SQL).fetchall()) == [(7, 0, 600_000, 2), (7, 600_001, 900_001, 1)]


def test_join_reference_includes_the_range_end():
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    import stream

    con = _duck_with({"lhs": [(1, 0, 7)], "rhs": [(2, 900_000, 7), (3, 900_001, 7), (4, 0, 8)]})
    assert con.execute(stream.SSJ_SQL).fetchone() == (1, 1 * 1048576 + 2)
