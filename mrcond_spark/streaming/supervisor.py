"""Connector supervisor (SURVEY §2.1 R8–R10 → §2.3 S13).

Replicates the reference's fan-out + restart table (`mrcon/src/server.rs`):

- one pipeline per configured collection, shared SparkSession
  (`server.rs:180-194` JoinSet fan-out);
- supervision loop (`server.rs:204-261`):
  - clean terminal (collection drop) -> stop, do NOT restart ("not
    restarting", `server.rs:205-207`), clean checkpoint (R7 `clean()`);
  - error -> classify (sink vs source vs other, `server.rs:215-230`),
    record metrics, restart the query from its checkpoint
    (`server.rs:243-248`) with bounded retry (R10 `retry_with_timeout`,
    5 s delay / 300 s cap, `server.rs:33-34`).
"""

from __future__ import annotations

import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame

from .metrics import Metrics
from .pipeline import CdcQuery, start_cdc_query
from .sink import Publish

RETRY_DELAY_S = 5.0  # server.rs:33
CONNECTION_TIMEOUT_S = 300.0  # server.rs:34


def classify_error(message: str) -> str:
    """Error classification mirroring `server.rs:215-230`: sink failures are
    tagged SINK_ERROR by the pipeline; everything else is source-side unless
    clearly internal."""
    if "SINK_ERROR" in message:
        return "sink"
    if any(k in message.lower() for k in ("mongo", "source", "filestream", "path does not exist")):
        return "source"
    return "other"


def retry_with_timeout(
    fn: Callable[[], object],
    delay_s: float = RETRY_DELAY_S,
    timeout_s: float = CONNECTION_TIMEOUT_S,
    sleep: Callable[[float], None] = time.sleep,
):
    """Generic retry-until-timeout (`server.rs:38-69`)."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            return fn()
        except Exception:
            if time.monotonic() + delay_s > deadline:
                raise
            sleep(delay_s)


@dataclass
class StreamSpec:
    """Everything needed to (re)start one collection's pipeline."""

    stream_name: str
    source_factory: Callable[[], DataFrame]  # fresh streaming DF per (re)start
    publisher: Publish
    checkpoint_dir: str
    available_now: bool = False  # replay/test mode: drain available then stop


class ConnectorServer:
    """Drives N CDC pipelines with the reference's restart semantics."""

    def __init__(
        self,
        specs: list[StreamSpec],
        metrics: Metrics | None = None,
        max_restarts_per_stream: int = 100,
    ) -> None:
        names = [s.stream_name for s in specs]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate stream names: {names}")
        self.specs = {s.stream_name: s for s in specs}
        self.metrics = metrics or Metrics()
        self.max_restarts = max_restarts_per_stream
        self.queries: dict[str, CdcQuery] = {}
        self.stopped_clean: set[str] = set()
        self.failed: set[str] = set()
        self._restart_counts: dict[str, int] = {}
        self._stop_requested = False

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> None:
        for name, spec in self.specs.items():
            self.queries[name] = self._spawn(spec)
            self.metrics.record_server_started(name)

    def _spawn(self, spec: StreamSpec) -> CdcQuery:
        return start_cdc_query(
            spec.source_factory(),
            spec.publisher,
            spec.stream_name,
            spec.checkpoint_dir,
            available_now=spec.available_now,
        )

    def stop(self) -> None:
        self._stop_requested = True
        for cq in self.queries.values():
            if cq.is_active:
                cq.query.stop()

    # -- supervision loop (server.rs:204-261) ------------------------------
    def poll_once(self) -> bool:
        """One supervision pass; returns True while any stream is live."""
        live = False
        for name, cq in list(self.queries.items()):
            if name in self.stopped_clean or name in self.failed:
                continue
            if cq.terminal.is_set():
                # clean terminal: stop, clean state, don't restart
                if cq.is_active:
                    cq.query.stop()
                    cq.query.awaitTermination(30)
                shutil.rmtree(self.specs[name].checkpoint_dir, ignore_errors=True)  # R7 clean()
                self.stopped_clean.add(name)
                self.metrics.record_server_stopped(name)
                continue
            # is_active before exception(): a query that fails between the
            # two reads then shows its exception, instead of reading as
            # inactive with no error (finished) and never being restarted
            active = cq.is_active
            exc = cq.query.exception()
            if exc is not None:
                reason = classify_error(str(exc))
                self.metrics.record_failure(name, reason)
                n = self._restart_counts.get(name, 0)
                if n >= self.max_restarts or self._stop_requested:
                    # never spawn a fresh (unsupervised) query during shutdown
                    self.failed.add(name)
                    self.metrics.record_server_stopped(name)
                    continue
                self._restart_counts[name] = n + 1
                self.metrics.record_restart(name, reason)
                # restart from the same checkpoint -> at-least-once redelivery
                self.queries[name] = retry_with_timeout(lambda: self._spawn(self.specs[name]))
                live = True
                continue
            if active:
                live = True
        return live and not self._stop_requested

    def await_all(self, poll_interval_s: float = 0.5, timeout_s: float | None = None) -> None:
        """Run the supervision loop until every stream ends (or timeout)."""
        deadline = time.monotonic() + timeout_s if timeout_s else None
        while self.poll_once():
            if deadline and time.monotonic() > deadline:
                raise TimeoutError("supervisor timed out with streams still live")
            time.sleep(poll_interval_s)
