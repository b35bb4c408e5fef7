"""Seeded input generators. The same seed gives byte-identical inputs; the
program under test only ever sees the files these write.

- CDC change envelopes: the four operation types in equal shares,
  heavy-tailed (Pareto) ``fullDocument`` sizes and uniformly spread document
  keys, with resume tokens that sort in generation order (the per-queue
  order contract is checked against them).
- Stateful events: Zipf-skewed ``user_id``s and timestamps shuffled within
  each file, so every trigger sees out-of-order rows. Files cover disjoint,
  increasing time ranges, so no row is behind the watermark of an earlier
  trigger and every row counts.
- Batch query order: seeded shuffles of a fixed query list, one per pass.

No trace of real traffic backs the shape parameters below; they are
arbitrary. Each is the simplest choice that still drives the code path the
workload is there for: every operation type, bodies from tens of bytes to
kilobytes in one batch, and a few hot users that grow the window and join
state unevenly.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random

OPERATIONS = ("insert", "update", "replace", "delete")
#: document keys drawn uniformly from 1..N_KEYS
N_KEYS = 5000
#: ``fullDocument`` body length: BODY_MIN_CHARS x Pareto(BODY_ALPHA), capped
BODY_MIN_CHARS, BODY_ALPHA, BODY_MAX_CHARS = 32, 1.5, 8192
BASE_TIME = dt.datetime(2024, 1, 1)
EVENT_TYPES = ("view", "click", "buy")
#: stateful events: user_ids Zipf(1) over 1..N_USERS, spread over SPAN_S
N_USERS, SPAN_S = 2000, 2 * 86400


def _zipf_cdf(n: int) -> list[float]:
    weights = [1.0 / k for k in range(1, n + 1)]
    total, acc, cdf = sum(weights), 0.0, []
    for w in weights:
        acc += w
        cdf.append(acc / total)
    return cdf


def _zipf(rng: random.Random, cdf: list[float]) -> int:
    return min(bisect.bisect_left(cdf, rng.random()), len(cdf) - 1) + 1


def token(seq: int) -> str:
    """Resume token whose string order is generation order."""
    return json.dumps({"_data": f"{seq:016x}"}, separators=(",", ":"))


def cdc_envelopes(seed: int, n: int, first_seq: int = 0) -> list[dict]:
    """``n`` change envelopes (FIXTURES.md 1.2 shape) with sequence numbers
    ``first_seq ..``; clusterTime advances 1 ms per event."""
    rng = random.Random(f"cdc:{seed}:{first_seq}")
    out = []
    for i in range(first_seq, first_seq + n):
        op = rng.choice(OPERATIONS)
        key = rng.randint(1, N_KEYS)
        doc = None
        if op != "delete":
            # most bodies small, a few KB-sized
            size = min(BODY_MAX_CHARS, int(BODY_MIN_CHARS * rng.paretovariate(BODY_ALPHA)))
            body = rng.randbytes((size + 1) // 2).hex()[:size]
            doc = json.dumps({"_id": key, "v": i, "body": body}, separators=(",", ":"))
        ts = BASE_TIME + dt.timedelta(milliseconds=i)
        out.append(
            {
                "_id": token(i),
                "operationType": op,
                "clusterTime": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z",
                "ns": {"db": "bench", "coll": "c"},
                "documentKey": json.dumps({"_id": key}, separators=(",", ":")),
                "fullDocument": doc,
            }
        )
    return out


def stateful_events(seed: int, n: int, n_files: int, first_id: int = 0, salt: str = "events") -> list[list[dict]]:
    """``n`` events spread over SPAN_S seconds and split into ``n_files``
    time-ordered files, rows shuffled within each file."""
    rng = random.Random(f"{salt}:{seed}")
    cdf = _zipf_cdf(N_USERS)
    step_ms = SPAN_S * 1000 // n
    per_file = n // n_files
    files = []
    for f in range(n_files):
        rows = []
        for i in range(f * per_file, (f + 1) * per_file):
            ts = BASE_TIME + dt.timedelta(milliseconds=i * step_ms + rng.randrange(step_ms))
            rows.append(
                {
                    "event_id": first_id + i,
                    "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}",
                    "user_id": _zipf(rng, cdf),
                    "event_type": rng.choice(EVENT_TYPES),
                    "value": float(rng.randrange(100)),
                }
            )
        rng.shuffle(rows)
        files.append(rows)
    return files


def query_orders(seed: int, names: list[str], n: int) -> list[list[str]]:
    """``n`` seeded shuffles of ``names``, one per pass: the order moves a
    pass's wall, so each pass gets its own and a run's median spans several."""
    rng = random.Random(f"order:{seed}")
    out = []
    for _ in range(n):
        order = sorted(names)
        rng.shuffle(order)
        out.append(order)
    return out


def write_jsonl(path: str, rows: list[dict]) -> None:
    """Write ``rows`` as JSON lines, atomically (temp name, then rename), so a
    streaming file source never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")
    os.rename(tmp, path)
