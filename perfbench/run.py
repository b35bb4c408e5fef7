#!/usr/bin/env python3
"""The engine's benchmark: one command, two workloads, one JSON line.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Spark runs on ``local[N]`` with N the
cores this process may use. ``--trace 0`` measures the end-to-end metrics;
``--trace 1`` repeats the run with the Spark event log and in-memory spans
on and reports the per-layer metrics instead. Outputs are checked in the
same run, outside the timed phase; a wrong output makes the run fail.

Everything the run writes (Spark work files, checkpoints, event log, the
artifact) goes under ``.perfbench_out/`` in the checkout. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

sys.dont_write_bytecode = True  # write nothing into the checkout but .perfbench_out/
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
sys.path.insert(0, HERE)

from common import Tracer, cpu_ticks, host_context, host_cores, summary, vm_hwm_mb  # noqa: E402

WORKLOADS = ("corpus", "stream")
#: a run starts no new measured unit after this many seconds from process
#: start, so a slow host shortens the run instead of overrunning 180 s; a
#: run cut below MIN_UNITS units fails instead of reporting a thin sample
HARD_STOP_S = 140.0
#: each run launches this many JVMs (each a fresh driver JVM and
#: ``get_spark``); set-up reports the median launch plus the warm pass
LAUNCHES = 3
#: The measured phase is a fixed number of units (corpus: passes; stream:
#: rounds, each followed by a tail segment), sized from --seconds with each
#: unit's nominal wall on a 4-core host. A fixed count, not "until the
#: clock runs out", keeps the median at the same point of the JVM's warm-up
#: curve in every run; passes still speed up from the first to the last.
NOMINAL_UNIT_S = {"corpus": 4.0, "stream": 7.0}
MIN_UNITS = 3
#: the tail percentile each workload's latency sample always supports with
#: >= 10 samples beyond it (corpus: 14 queries x >= 3 passes; stream: 15
#: tail files x >= 3 segments)
TAIL_P = {"corpus": 75, "stream": 75}


def unit_count(workload: str, seconds: float) -> int:
    return max(MIN_UNITS, round(seconds / NOMINAL_UNIT_S[workload]))


#: gated end-to-end metrics (BENCHMARK.json "end_to_end"), name -> unit
#: phase1_s / phase2_s split a unit in two: corpus build (``Query.spark``)
#: and execute (``noop`` save) per pass; stream CDC catch-up drain and the
#: three stateful drains per round
E2E_UNITS = {"setup_s": "s", "phase1_s": "s", "phase2_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms"}
#: per-layer metrics of a traced run (BENCHMARK.json "per_layer"), name ->
#: unit; a layer a workload does not run reports 0
PER_LAYER = {
    "session.get_spark_s": "s", "session.warm_s": "s", "session.peak_rss_mb": "MB",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "operators.jobs": "count", "operators.stages": "count", "operators.tasks": "count",
    "operators.driver_gap_s": "s", "operators.task_s": "s", "operators.task_cpu_s": "s", "operators.gc_s": "s",
    "operators.slot_idle_frac": "ratio", "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes", "operators.spill_bytes": "bytes", "operators.task_skew": "ratio",
    "operators.failed_tasks": "count", "catalog.input_bytes": "bytes", "catalog.input_rows": "count",
    "streaming.source.offset_ms": "ms", "streaming.source.rows_per_batch": "count",
    "streaming.pipeline.drain_ms": "ms", "streaming.pipeline.commit_ms": "ms", "streaming.pipeline.plan_ms": "ms",
    "streaming.pipeline.batches": "count", "streaming.pipeline.queue_wait_p50_ms": "ms",
    "streaming.pipeline.queue_wait_p99_ms": "ms", "streaming.pipeline.backlog_files": "count",
    "streaming.sink.publish_calls": "count", "streaming.sink.publish_ms": "ms", "streaming.sink.dup_ratio": "ratio",
    "streaming.windows.state_rows": "count", "streaming.windows.state_bytes": "bytes",
    "streaming.windows.state_commit_ms": "ms", "streaming.windows.add_batch_ms": "ms",
    "streaming.windows.rows_dropped_by_watermark": "count", "streaming.sizing.partitions": "count",
    "gen.late_p99_ms": "ms",
}


class Session:
    """The Spark session under test, created through ``get_spark`` with only
    placement settings added: work directories inside the checkout, and
    the event log when tracing."""

    def __init__(self, cores: int, workdir: str) -> None:
        self.cores = cores
        self.workdir = workdir
        self.spark = None
        self.jvm_pid: int | None = None
        self.event_dir = os.path.join(workdir, "eventlog")
        self.conf = {
            "spark.local.dir": os.path.join(workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        }

    def launch(self, event_log: bool = False) -> float:
        """Stop any running JVM, then start a fresh one through ``get_spark``;
        returns the wall of the start."""
        from mrcond_spark.session import get_spark

        self.close()
        conf = dict(self.conf)
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf=conf)
        elapsed = time.perf_counter() - t0
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return elapsed

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)


def launch_all(sess: Session, trace: bool) -> list[float]:
    """The JVM launches of one run; only the last JVM (the one measured)
    writes the event log."""
    return [sess.launch(event_log=trace and i == LAUNCHES - 1) for i in range(LAUNCHES)]


class ShortRun(Exception):
    """The hard stop cut the measured phase below MIN_UNITS units."""


def more_units(done: int, workload: str, seconds: float, t_start: float) -> bool:
    if done >= unit_count(workload, seconds):
        return False
    if time.perf_counter() - t_start < HARD_STOP_S:
        return True
    if done < MIN_UNITS:
        raise ShortRun(f"only {done} of at least {MIN_UNITS} measured units started within {HARD_STOP_S:.0f} s; "
                       "too few samples for the reported percentiles")
    return False


def run_corpus(args, sess: Session, tracer: Tracer, run_id: str, t_start: float) -> dict:
    import batch
    import gen

    orders = gen.query_orders(args.seed, list(batch.SAMPLE), unit_count("corpus", args.seconds))
    launches = launch_all(sess, args.trace)
    # warm pass: the output check (collect + oracle) runs every query once
    t0 = time.perf_counter()
    attempted, failures = batch.check_pass(sess.spark, orders[0], tracer)
    warm_s = time.perf_counter() - t0
    passes = []
    while more_units(len(passes), "corpus", args.seconds, t_start):
        t_pass = time.time()
        p = batch.timed_pass(sess.spark, orders[len(passes)], run_id, len(passes), tracer)
        p["start"], p["end"] = t_pass, time.time()
        passes.append(p)
    attempted += len(batch.SAMPLE) * len(passes)
    failures += [f for p in passes for f in p["failures"]]
    latencies = [w * 1000 for p in passes for w in p["walls"].values()]
    lat = summary(latencies, TAIL_P["corpus"])
    for p in passes:
        p["phase1"] = sum(p["builds"].values())
        p["phase2"] = sum(p["walls"].values()) - p["phase1"]
    wall = statistics.median(p["wall"] for p in passes)
    report = {
        "batch_wall_s": (wall, "s", len(passes)),
        "build_s": (statistics.median(p["phase1"] for p in passes), "s", len(passes)),
        "execute_s": (statistics.median(p["phase2"] for p in passes), "s", len(passes)),
        "query_p50_s": (lat["p50"] / 1000, "s", lat["n"]),
        f"query_p{lat['tail_p']}_s": (lat["tail"] / 1000, "s", lat["n"]),
    }
    layers = corpus_layers(sess, passes, run_id, tracer) if args.trace else {}
    return {
        "launches": launches, "warm_s": warm_s, "latency": lat, "report": report, "layers": layers,
        "attempted": attempted, "failed": len(failures), "failures": failures,
        "units": [{k: p[k] for k in ("wall", "phase1", "phase2")} for p in passes],
    }


def corpus_layers(sess: Session, passes: list[dict], run_id: str, tracer: Tracer) -> dict:
    """Event-log figures per pass (median over passes), plus job and stage
    spans under the query spans that caused them."""
    import eventlog

    sess.spark.stop()  # flushes and closes the event log
    log = eventlog.parse_dir(sess.event_dir)
    per_pass = []
    for n, p in enumerate(passes):
        prefix = f"{run_id}:{n}:"
        jobs = log.jobs_where(lambda j: (j.group or "").startswith(prefix))
        t = log.totals(jobs, p["end"] - p["start"], sess.cores)
        gap = 0.0
        for s in tracer.spans:
            if s["name"] == "query" and _in_pass(tracer, s, n):
                qjobs = [j for j in jobs if j.group == prefix + s["attrs"]["query"]]
                gap += log.driver_gap_s(s["start"], s["end"], qjobs)
        t["operators.driver_gap_s"] = gap
        t["queries.build_s"] = sum(p["builds"].values())
        t["queries.build_jobs"] = float(sum(
            1 for s in tracer.spans if s["name"] == "build" and _in_pass(tracer, s, n)
            for j in jobs if s["start"] <= j.start <= s["end"]
        ))
        per_pass.append(t)
    _job_spans(tracer, log, ("build", "execute"))
    return {k: statistics.median(t[k] for t in per_pass) for k in per_pass[0]}


def _in_pass(tracer: Tracer, span: dict, pass_no: int) -> bool:
    while span["parent"] is not None:
        span = tracer.spans[span["parent"]]
        if span["name"] == "pass":
            return span["attrs"].get("pass_no") == pass_no
    return False


def _job_spans(tracer: Tracer, log, parent_names: tuple[str, ...]) -> None:
    """Attach each job (and its stages) to the innermost listed span whose
    interval holds the job's start."""
    parents = sorted(
        (s for s in tracer.spans if s["name"] in parent_names), key=lambda s: s["start"]
    )
    for job in sorted(log.jobs.values(), key=lambda j: j.start):
        holder = next((s for s in parents if s["start"] <= job.start <= s["end"]), None)
        if holder is None or job.end is None:
            continue
        jid = tracer.add("job", job.start, job.end, holder["id"], job_id=job.job_id)
        for sid in job.stage_ids:
            st = log.stages.get(sid)
            if st is not None and st.start is not None:
                tracer.add("stage", st.start, st.end, jid, stage_id=sid, tasks=st.tasks)


def run_stream(args, sess: Session, tracer: Tracer, run_id: str, t_start: float) -> dict:
    import stream

    launches = launch_all(sess, args.trace)
    wl = stream.StreamWorkload(sess.spark, args.seed, os.path.join(sess.workdir, "stream"), tracer)
    # warm replay: untimed rounds through every path the measured rounds use
    # (JIT, and each session's lazy streaming set-up); drains keep speeding
    # up over the first few rounds, so two of them
    t0 = time.perf_counter()
    for _ in range(2):
        wl.run_catchup()
        wl.run_stateful()
    warm_s = time.perf_counter() - t0
    wl.layers.clear()
    rounds, lags = [], []
    while more_units(len(rounds), "stream", args.seconds, t_start):
        t_round = time.time()
        with tracer.span("round", round_no=len(rounds)):
            catchup_s, catchup = wl.run_catchup()
            drains = wl.run_stateful()
            rounds.append({"phase1": catchup_s, "phase2": drains["win_s"] + drains["ses_s"] + drains["ssj_s"],
                           "catchup": catchup, **drains, "start": t_round, "end": time.time()})
            rounds[-1]["wall"] = rounds[-1]["phase1"] + rounds[-1]["phase2"]
            lags += wl.run_tail(segment=len(rounds) - 1)
    lat = summary(lags, TAIL_P["stream"])
    med = lambda k: statistics.median(r[k] for r in rounds)  # noqa: E731
    report = {
        "round_drain_s": (med("wall"), "s", len(rounds)),
        "cdc_catchup_s": (med("phase1"), "s", len(rounds)),
        "stateful_s": (med("phase2"), "s", len(rounds)),
        "cdc_catchup_eps": (med("catchup"), "events/s", len(rounds)),
        "cdc_lag_p50_ms": (lat["p50"], "ms", lat["n"]),
        f"cdc_lag_p{lat['tail_p']}_ms": (lat["tail"], "ms", lat["n"]),
        "win_eps": (med("win"), "events/s", len(rounds)),
        "ses_eps": (med("ses"), "events/s", len(rounds)),
        "ssj_eps": (med("ssj"), "events/s", len(rounds)),
    }
    layers = {}
    if args.trace:
        layers = stream.summarize_layers(wl.layers, len(rounds))
        layers.update(stream_op_layers(sess, rounds, tracer))
    return {
        "launches": launches, "warm_s": warm_s, "latency": lat, "report": report, "layers": layers,
        "attempted": wl.attempted, "failed": wl.failed, "failures": wl.failures,
        "units": [{k: r[k] for k in ("wall", "phase1", "phase2", "catchup", "win", "ses", "ssj")} for r in rounds],
    }


def stream_op_layers(sess: Session, rounds: list[dict], tracer: Tracer) -> dict:
    import eventlog

    sess.spark.stop()
    log = eventlog.parse_dir(sess.event_dir)
    per_round = []
    for r in rounds:
        jobs = log.jobs_where(lambda j: r["start"] <= j.start <= r["end"])
        t = log.totals(jobs, r["end"] - r["start"], sess.cores)
        t["operators.driver_gap_s"] = log.driver_gap_s(r["start"], r["end"], jobs)
        per_round.append(t)
    _job_spans(tracer, log, ("trigger",))
    return {k: statistics.median(t[k] for t in per_round) for k in per_round[0]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="measured phase length")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "mrcond_spark")):
        print(f"perfbench: no mrcond_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    run_id = uuid.uuid4().hex[:12]
    workdir = os.path.join(OUT, f"run-{run_id}")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(workdir, d))
    # keep every temp file of this process, its JVM and its Python workers
    # inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    # both JVMs spark-submit starts (launcher and driver): no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.path.insert(0, ROOT)

    cores = host_cores()
    context = host_context(cores)
    steal0, total0 = cpu_ticks()
    tracer = Tracer(run_id, enabled=bool(args.trace))
    sess = Session(cores, workdir)
    try:
        runner = run_corpus if args.workload == "corpus" else run_stream
        with tracer.span("workload", workload=args.workload):
            res = runner(args, sess, tracer, run_id, t_start)
        # the JVM outlives a stopped context until close(), so this reads
        # the high-water mark of the measured JVM over the whole run
        res["peak_rss_mb"] = vm_hwm_mb(os.getpid()) + vm_hwm_mb(sess.jvm_pid)
    except ShortRun as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        sess.close()
        shutil.rmtree(workdir, ignore_errors=True)
    context["loadavg_after"] = list(os.getloadavg())
    steal1, total1 = cpu_ticks()
    context["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    return finish(args, res, context, tracer, run_id, t_start)


def finish(args, res: dict, context: dict, tracer: Tracer, run_id: str, t_start: float) -> int:
    lat = res["latency"]
    units = res["units"]
    e2e = {
        "setup_s": statistics.median(res["launches"]) + res["warm_s"],
        "phase1_s": statistics.median(u["phase1"] for u in units),
        "phase2_s": statistics.median(u["phase2"] for u in units),
        "latency_p50_ms": lat["p50"],
        "latency_tail_ms": lat["tail"],
    }
    report = dict(res["report"])
    wall = sum(u["phase1"] + u["phase2"] for u in units)
    report.update({
        "phase1_share": (sum(u["phase1"] for u in units) / wall, "ratio", len(units)),
        "setup_s": (e2e["setup_s"], "s", len(res["launches"])),
        "fail_ratio": (res["failed"] / max(1, res["attempted"]), "ratio", res["attempted"]),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
    })
    last_path = os.path.join(OUT, f"last-untraced-{args.workload}.json")
    overhead = None
    if args.trace and os.path.exists(last_path):
        with open(last_path) as f:
            untraced = json.load(f)
        overhead = {k: e2e[k] - untraced[k] for k in e2e if k in untraced}
    if not args.trace:
        with open(last_path, "w") as f:
            json.dump(e2e, f)

    res["layers"].update({
        "session.get_spark_s": statistics.median(res["launches"]),
        "session.warm_s": res["warm_s"],
        "session.peak_rss_mb": res["peak_rss_mb"],
    })
    layers = {k: float(res["layers"].get(k, 0.0)) for k in PER_LAYER}
    metrics = (
        {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        if not args.trace
        else {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    )
    correct = res["failed"] == 0
    artifact = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": context, "units": res["units"],
        "end_to_end": e2e, "latency": lat,
        "report": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in report.items()},
        "launches_s": res["launches"], "per_layer": layers, "tracing_overhead": overhead,
        "checks": {"attempted": res["attempted"], "failed": res["failed"], "failures": res["failures"]},
        "wall_s_total": time.perf_counter() - t_start,
    }
    if args.trace:
        artifact["trace"] = tracer.dump()
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)

    print(f"# perfbench {args.workload} seed={args.seed} host nproc={context['nproc']} "
          f"master={context['master']} pyspark={context['pyspark']} "
          f"loadavg {context['loadavg_before'][0]:.2f} -> {context['loadavg_after'][0]:.2f} "
          f"cpu steal {100 * context['cpu_steal_frac']:.1f} %")
    for name, (v, u, n) in report.items():
        print(f"{name:<22} {v:>14.4f} {u:<9} n={n}")
    if args.trace:
        for name, v in layers.items():
            print(f"{name:<42} {v:>16.4f} {PER_LAYER[name]}")
        if overhead:
            print("tracing overhead (traced - untraced): "
                  + ", ".join(f"{k} {v:+.4f}" for k, v in overhead.items()))
    for f_ in res["failures"]:
        print(f"FAILED: {f_}")
    print(f"# artifact {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
