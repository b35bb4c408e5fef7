"""Streaming workload: the CDC pipeline two ways, then the stateful window
operators, all on seeded inputs.

Phases of one measured round (fixed input sizes, so every round does the
same work):

- **catch-up**: drain a pre-staged backlog of change envelopes through
  ``start_cdc_query`` with ``max_files_per_trigger=1`` (bounded batches, as
  after a daemon restart); per-row drain cost dominates.
- **stateful**: one Zipf-skewed event stream through
  ``windows.tumbling_counts``, ``windows.session_counts`` and
  ``windows.stream_stream_join``, partitions sized by
  ``sizing.stream_shuffle_partitions``.

After each round, a segment of the **tail**: an open-loop generator thread
writes one atomically renamed file per fixed period at a fixed rate below
capacity; the source takes every pending file per trigger, as a
change-stream cursor reads all available changes. Per-micro-batch fixed
cost dominates its lag.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
import uuid

import gen
from common import lag_ms, percentile

from mrcond_spark.streaming import windows
from mrcond_spark.streaming.pipeline import start_cdc_query
from mrcond_spark.streaming.sink import MemoryPublisher
from mrcond_spark.streaming.sizing import stream_shuffle_partitions
from mrcond_spark.streaming.source import file_replay_stream

EVENT_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"

#: catch-up backlog: files x events per file, one file per trigger
CATCHUP_FILES, CATCHUP_PER_FILE = 5, 3000
#: stateful stream: events split over files, all drained in one trigger;
#: the join reads only the first file of each side, because Zipf-hot users
#: make its per-key range matching grow with the square of the input
STATEFUL_EVENTS, STATEFUL_FILES = 9_000, 3
#: open-loop tail: one file of TAIL_PER_FILE events every TAIL_PERIOD_S
#: (1,000 events/s, the lowest rate the engine's tail was probed at), in
#: segments of TAIL_FILES files, one after each round, so that a stall of
#: a few seconds lands in one segment, not in every lag sample
TAIL_PERIOD_S, TAIL_PER_FILE, TAIL_FILES = 0.1, 100, 15
TAIL_FIRST_SEQ = 10_000_000
#: "every pending file" per trigger
ALL_PENDING = 1_000_000
DRAIN_TIMEOUT_S = 120


#: DuckDB references for the stateful checks, over views ``events`` (the
#: stream) and ``lhs``/``rhs`` (the join's sides)
WIN_SQL = (
    "SELECT epoch_ms(ts) // 300000 * 300000 AS s, event_type, COUNT(*) AS cnt, "
    "CAST(SUM(value) AS BIGINT) AS v FROM events GROUP BY 1, 2"
)
#: Spark's session_window merges an event that arrives exactly one gap after
#: the previous one into the same session, so only a larger gap splits
SES_SQL = """
    WITH o AS (SELECT user_id, epoch_ms(ts) AS t,
                 epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap FROM events),
         g AS (SELECT user_id, t, SUM(CASE WHEN gap IS NULL OR gap > 300000 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM o)
    SELECT user_id, MIN(t) AS s, MAX(t) + 300000 AS e, COUNT(*) AS cnt FROM g GROUP BY user_id, sid
"""
SSJ_SQL = (
    "SELECT COUNT(*), COALESCE(SUM(l.event_id * 1048576 + r.event_id), 0) FROM lhs l JOIN rhs r "
    "ON l.user_id = r.user_id AND r.ts BETWEEN l.ts AND l.ts + INTERVAL 15 MINUTE"
)


class RecordingPublisher(MemoryPublisher):
    """The ``Publish`` seam with a clock: each call's start and end time and
    its payloads, in call order."""

    def __init__(self) -> None:
        super().__init__()
        self.calls: list[tuple[float, float, list[str]]] = []

    def publish_batch(self, stream_name: str, payloads: list[str]) -> None:
        start = time.time()
        super().publish_batch(stream_name, payloads)
        self.calls.append((start, time.time(), payloads))


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _ts(iso: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def _trigger_layers(progress: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {k: [] for k in ("offset_ms", "rows", "add_batch_ms", "commit_ms", "plan_ms")}
    for p in progress:
        if not p.get("numInputRows"):
            continue
        d = p.get("durationMs", {})
        out["offset_ms"].append(d.get("latestOffset", 0) + d.get("getBatch", 0))
        out["rows"].append(p["numInputRows"])
        out["add_batch_ms"].append(d.get("addBatch", 0))
        out["commit_ms"].append(d.get("walCommit", 0) + d.get("commitOffsets", 0))
        out["plan_ms"].append(d.get("queryPlanning", 0))
    return out


class StreamWorkload:
    """Inputs are generated and staged once per run from the seed; each
    drain starts a fresh query with a fresh checkpoint."""

    def __init__(self, spark, seed: int, work_dir: str, tracer) -> None:
        self.spark = spark
        self.work = work_dir
        self.tracer = tracer
        self.catchup = gen.cdc_envelopes(seed, CATCHUP_FILES * CATCHUP_PER_FILE)
        self.seed = seed
        left = gen.stateful_events(seed, STATEFUL_EVENTS, STATEFUL_FILES)
        right = gen.stateful_events(seed, STATEFUL_EVENTS, STATEFUL_FILES, first_id=10_000_000, salt="right")
        self.input_dirs = {
            "catchup": self._stage("catchup", [
                self.catchup[i * CATCHUP_PER_FILE:(i + 1) * CATCHUP_PER_FILE] for i in range(CATCHUP_FILES)
            ]),
            "left": self._stage("left", left),
            "left_first": self._stage("left_first", left[:1]),
            "right_first": self._stage("right_first", right[:1]),
        }
        self.reference: dict | None = None  # DuckDB's stateful results, computed once
        self.failures: list[str] = []
        self.attempted = 0  # events generated plus stateful result checks
        self.failed = 0  # missing, out-of-order or altered events, wrong results
        self.layers: dict[str, list[float]] = {}

    def _stage(self, name: str, files: list[list[dict]]) -> str:
        d = os.path.join(self.work, "inputs", name)
        os.makedirs(d, exist_ok=True)
        for i, rows in enumerate(files):
            gen.write_jsonl(os.path.join(d, f"part-{i:05d}.json"), rows)
        return d

    def _fresh(self, prefix: str) -> str:
        d = os.path.join(self.work, f"{prefix}-{uuid.uuid4().hex[:8]}")
        os.makedirs(d)
        return d

    def _note(self, key: str, values) -> None:
        self.layers.setdefault(key, []).extend(values if isinstance(values, list) else [values])

    # ---- CDC catch-up -------------------------------------------------
    def run_catchup(self) -> tuple[float, float]:
        """Drain the staged backlog; returns the drain wall in seconds and
        delivered events per second."""
        ckpt = self._fresh("ckpt")
        name = f"catchup{uuid.uuid4().hex[:8]}"
        pub = RecordingPublisher()
        spark = self.spark
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(stream_shuffle_partitions(CATCHUP_PER_FILE)))
        try:
            with self.tracer.span("cdc.catchup") as sid:
                t0 = time.perf_counter()
                cq = start_cdc_query(
                    file_replay_stream(spark, self.input_dirs["catchup"], max_files_per_trigger=1),
                    pub, name, ckpt, available_now=True,
                )
                finished = cq.query.awaitTermination(DRAIN_TIMEOUT_S)
                wall = time.perf_counter() - t0
                if not finished:
                    cq.query.stop()
                progress = _progress(cq.query)
            self._trace_triggers(progress, pub, sid)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
            shutil.rmtree(ckpt, ignore_errors=True)
        delivered = pub.messages[name]
        self._check_delivery("catch-up", delivered, self.catchup, finished)
        layers = _trigger_layers(progress)
        publish_ms = [(e - s) * 1000 for s, e, _ in pub.calls]
        self._note("catchup.publish_ms", publish_ms)
        self._note("catchup.publish_calls", float(len(pub.calls)))
        # drain = addBatch minus the time spent inside publish_batch
        self._note("catchup.drain_ms", [a - p for a, p in zip(layers["add_batch_ms"], publish_ms)])
        self._note("catchup.dup_ratio", len(delivered) / max(1, len(set(delivered))))
        return wall, len(delivered) / wall

    # ---- CDC open-loop tail -------------------------------------------
    def run_tail(self, segment: int) -> list[float]:
        """Run tail segment ``segment`` (numbered from 0); returns the lag of
        each of its files in ms."""
        first_seq, n_files = TAIL_FIRST_SEQ * (segment + 1), TAIL_FILES
        envelopes = gen.cdc_envelopes(self.seed, n_files * TAIL_PER_FILE, first_seq=first_seq)
        src = self._fresh("tail-src")
        ckpt = self._fresh("ckpt")
        name = f"tail{uuid.uuid4().hex[:8]}"
        pub = RecordingPublisher()
        spark = self.spark
        files = [
            "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in envelopes[k * TAIL_PER_FILE:(k + 1) * TAIL_PER_FILE])
            for k in range(n_files)
        ]
        due: list[float] = [0.0] * n_files
        written: list[float] = [0.0] * n_files

        def generate(t0: float) -> None:
            # open loop: file k is due at t0 + k * period whatever the
            # pipeline does; a late write is recorded, never skipped
            for k, text in enumerate(files):
                due[k] = t0 + k * TAIL_PERIOD_S
                delay = due[k] - time.time()
                if delay > 0:
                    time.sleep(delay)
                tmp = os.path.join(src, f".t{k:05d}.tmp")
                with open(tmp, "w") as f:
                    f.write(text)
                os.rename(tmp, os.path.join(src, f"t{k:05d}.json"))
                written[k] = time.time()

        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(stream_shuffle_partitions(TAIL_PER_FILE)))
        try:
            with self.tracer.span("cdc.tail") as sid:
                cq = start_cdc_query(
                    file_replay_stream(spark, src, max_files_per_trigger=ALL_PENDING), pub, name, ckpt,
                )
                # let the query reach its first (empty) trigger before load starts
                time.sleep(0.5)
                t0 = time.time() + 0.05
                g = threading.Thread(target=generate, args=(t0,), name="tail-generator")
                g.start()
                g.join()
                delivered_at_gen_end = len(pub.messages[name])
                deadline = time.time() + DRAIN_TIMEOUT_S
                while len(pub.messages[name]) < len(envelopes) and time.time() < deadline:
                    time.sleep(0.02)
                cq.query.stop()
                progress = _progress(cq.query)
            self._trace_triggers(progress, pub, sid)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
            shutil.rmtree(ckpt, ignore_errors=True)
            shutil.rmtree(src, ignore_errors=True)
        self._check_delivery("tail", pub.messages[name], envelopes, True)
        # a file's events share one due time and arrive in one publish call,
        # so lag is one sample per file (its first delivery), not per event
        lags: dict[int, float] = {}
        waits: dict[int, float] = {}
        starts = sorted(_ts(p["timestamp"]) for p in progress if p.get("numInputRows"))
        for s, e, payloads in pub.calls:
            trigger_start = max((t for t in starts if t <= s), default=s)
            for m in payloads:
                k = (int(json.loads(json.loads(m)["_id"])["_data"], 16) - first_seq) // TAIL_PER_FILE
                if k not in lags:
                    lags[k] = lag_ms(e, due[k])
                    waits[k] = lag_ms(trigger_start, due[k])
        late = [lag_ms(w, d) for w, d in zip(written, due)]
        layers = _trigger_layers(progress)
        self._note("tail.offset_ms", layers["offset_ms"])
        self._note("tail.rows", layers["rows"])
        self._note("tail.commit_ms", layers["commit_ms"])
        self._note("tail.plan_ms", layers["plan_ms"])
        self._note("tail.batches", float(len(layers["rows"])))
        self._note("tail.queue_wait_ms", list(waits.values()))
        self._note("tail.backlog_files", float(n_files - round(delivered_at_gen_end / TAIL_PER_FILE)))
        self._note("gen.late_ms", late)
        return list(lags.values())

    # ---- stateful operators -------------------------------------------
    def _drain_memory(self, label: str, df, mode: str, rows_per_trigger: int):
        spark = self.spark
        ckpt = self._fresh("ckpt")
        name = f"{label}{uuid.uuid4().hex[:8]}"
        parts = stream_shuffle_partitions(rows_per_trigger)
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            with self.tracer.span(f"stateful.{label}") as sid:
                t0 = time.perf_counter()
                q = (
                    df.writeStream.format("memory").queryName(name).outputMode(mode)
                    .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
                )
                finished = q.awaitTermination(DRAIN_TIMEOUT_S)
                wall = time.perf_counter() - t0
                if not finished:
                    q.stop()
                progress = _progress(q)
            self._trace_triggers(progress, None, sid)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
            shutil.rmtree(ckpt, ignore_errors=True)
        if not finished:
            self.failures.append(f"{label}: drain did not finish in {DRAIN_TIMEOUT_S}s")
            self.failed += 1
        self._note("sizing.partitions", float(parts))
        for p in progress:
            for op in p.get("stateOperators", []):
                self._note(f"{label}.state_rows", float(op.get("numRowsTotal", 0)))
                self._note(f"{label}.state_bytes", float(op.get("memoryUsedBytes", 0)))
                self._note(f"{label}.state_commit_ms", float(op.get("commitTimeMs", 0)))
                self._note(f"{label}.dropped", float(op.get("numRowsDroppedByWatermark", 0)))
        self._note(f"{label}.add_batch_ms", _trigger_layers(progress)["add_batch_ms"])
        return name, wall

    def _events(self, side: str):
        return (
            self.spark.readStream.schema(EVENT_SCHEMA).json(self.input_dirs[side])
        )

    def run_stateful(self) -> dict[str, float]:
        """One drain per operator; returns each drain's wall in seconds
        (``win_s``, ...) and input events per second (``win``, ...)."""
        from pyspark.sql import functions as F

        n, n_join = STATEFUL_EVENTS, STATEFUL_EVENTS // STATEFUL_FILES
        out = {}
        results = {}
        name, out["win_s"] = self._drain_memory(
            "win", windows.tumbling_counts(self._events("left"), duration="5 minutes"), "complete", n
        )
        out["win"] = n / out["win_s"]
        results["win"] = self.spark.sql(
            f"SELECT unix_millis(win_start) AS s, event_type, cnt, CAST(sum_value AS BIGINT) AS v FROM {name}"
        ).collect()
        self.spark.catalog.dropTempView(name)
        name, out["ses_s"] = self._drain_memory(
            "ses", windows.session_counts(self._events("left"), gap="5 minutes"), "complete", n
        )
        out["ses"] = n / out["ses_s"]
        results["ses"] = self.spark.sql(
            f"SELECT user_id, unix_millis(win_start) AS s, unix_millis(win_end) AS e, cnt FROM {name}"
        ).collect()
        self.spark.catalog.dropTempView(name)
        joined = windows.stream_stream_join(
            self._events("left_first"), self._events("right_first"), key="user_id"
        ).select(F.col("l.event_id").alias("l_id"), F.col("r.event_id").alias("r_id"))
        name, out["ssj_s"] = self._drain_memory("ssj", joined, "append", 2 * n_join)
        out["ssj"] = 2 * n_join / out["ssj_s"]
        results["ssj"] = self.spark.sql(
            f"SELECT COUNT(*) AS n, COALESCE(SUM(l_id * 1048576 + r_id), 0) AS h FROM {name}"
        ).collect()[0]
        self.spark.catalog.dropTempView(name)
        self._check_stateful(results)
        return out

    # ---- tracing --------------------------------------------------------
    def _trace_triggers(self, progress: list[dict], pub, parent) -> None:
        """Trigger spans from recentProgress, publish spans from the sink."""
        if not self.tracer.enabled:
            return
        for p in progress:
            start = _ts(p["timestamp"])
            d = p.get("durationMs", {})
            tid = self.tracer.add("trigger", start, start + d.get("triggerExecution", 0) / 1000.0, parent,
                                  batch=p.get("batchId"), rows=p.get("numInputRows"))
            if pub is not None:
                for s, e, payloads in pub.calls:
                    if start <= s <= start + d.get("triggerExecution", 0) / 1000.0:
                        self.tracer.add("publish", s, e, tid, messages=len(payloads))

    # ---- checks -----------------------------------------------------------
    def _check_delivery(self, label: str, delivered: list[str], generated: list[dict], finished: bool) -> None:
        """Delivered set equals generated set, first deliveries follow
        ``_id`` order, and each payload equals the envelope's JSON."""
        self.attempted += len(generated)
        expected = {r["_id"]: r for r in generated}
        seen: dict[str, dict] = {}
        order_breaks = altered = 0
        last = ""
        for m in delivered:
            doc = json.loads(m)
            tok = doc["_id"]
            if tok in seen:
                continue  # redelivery: allowed by at-least-once, counted in dup_ratio
            if tok < last:
                order_breaks += 1
            last = tok
            seen[tok] = doc
            want = expected.get(tok)
            if want is None or any(doc.get(k) != v for k, v in want.items() if v is not None) or (
                want["fullDocument"] is None and "fullDocument" in doc and doc["fullDocument"] is not None
            ):
                altered += 1
        missing = len(expected.keys() - seen.keys())
        bad = missing + order_breaks + altered
        if bad or not finished:
            self.failures.append(
                f"{label}: {missing} missing, {order_breaks} out of order, {altered} altered"
                + ("" if finished else ", drain unfinished")
            )
        self.failed += bad + (0 if finished else 1)

    def _duckdb_reference(self) -> dict:
        """DuckDB's results over the staged files; every round drains the
        same files, so one computation serves the whole run."""
        import duckdb

        con = duckdb.connect()
        try:
            cols = "{'event_id': 'BIGINT', 'ts': 'TIMESTAMP', 'user_id': 'BIGINT', 'event_type': 'VARCHAR', 'value': 'DOUBLE'}"
            for view, d in (("events", "left"), ("lhs", "left_first"), ("rhs", "right_first")):
                con.execute(
                    f"CREATE VIEW {view} AS SELECT * FROM read_json('{self.input_dirs[d]}/*.json', columns={cols})"
                )
            return {
                "win": sorted(con.execute(WIN_SQL).fetchall()),
                "ses": sorted(con.execute(SES_SQL).fetchall()),
                "ssj": con.execute(SSJ_SQL).fetchone(),
            }
        finally:
            con.close()

    def _check_stateful(self, results: dict) -> None:
        if self.reference is None:
            self.reference = self._duckdb_reference()
        win, ses, ssj = self.reference["win"], self.reference["ses"], self.reference["ssj"]
        checks = {
            "win: window counts differ from DuckDB": sorted(map(tuple, results["win"])) == win,
            "ses: session counts differ from DuckDB": sorted(map(tuple, results["ses"])) == ses,
            f"ssj: {results['ssj']['n']} pairs vs DuckDB {ssj[0]}":
                (results["ssj"]["n"], int(results["ssj"]["h"])) == (ssj[0], int(ssj[1])),
        }
        self.attempted += len(checks)
        for message, ok in checks.items():
            if not ok:
                self.failures.append(message)
                self.failed += 1


def summarize_layers(layers: dict[str, list[float]], rounds: int) -> dict[str, float]:
    """Per-layer figures for the streaming layers, per round where a count."""

    def med(k):
        v = layers.get(k, [])
        return statistics.median(v) if v else 0.0

    def tot(*ks):
        return sum(sum(layers.get(k, [])) for k in ks)

    def p(k, q):
        v = layers.get(k, [])
        return percentile(v, q) if v else 0.0

    return {
        "streaming.source.offset_ms": med("tail.offset_ms"),
        "streaming.source.rows_per_batch": med("tail.rows"),
        "streaming.pipeline.drain_ms": med("catchup.drain_ms"),
        "streaming.pipeline.commit_ms": med("tail.commit_ms"),
        "streaming.pipeline.plan_ms": med("tail.plan_ms"),
        "streaming.pipeline.batches": med("tail.batches"),
        "streaming.pipeline.queue_wait_p50_ms": med("tail.queue_wait_ms"),
        "streaming.pipeline.queue_wait_p99_ms": p("tail.queue_wait_ms", 99),
        "streaming.pipeline.backlog_files": med("tail.backlog_files"),
        "streaming.sink.publish_calls": tot("catchup.publish_calls") / max(1, rounds),
        "streaming.sink.publish_ms": med("catchup.publish_ms"),
        "streaming.sink.dup_ratio": med("catchup.dup_ratio"),
        "streaming.windows.state_rows": max(layers.get("ssj.state_rows", [0.0])),
        "streaming.windows.state_bytes": max(layers.get("ssj.state_bytes", [0.0])),
        "streaming.windows.state_commit_ms": med("win.state_commit_ms") + med("ses.state_commit_ms") + med("ssj.state_commit_ms"),
        "streaming.windows.add_batch_ms": med("win.add_batch_ms") + med("ses.add_batch_ms") + med("ssj.add_batch_ms"),
        "streaming.windows.rows_dropped_by_watermark": tot("win.dropped", "ses.dropped", "ssj.dropped") / max(1, rounds),
        "streaming.sizing.partitions": med("sizing.partitions"),
        "gen.late_p99_ms": p("gen.late_ms", 99),
    }
