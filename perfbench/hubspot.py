"""The benchmark's transport: ``FakeHubSpot`` with a request spool,
optionally timing every call, and the readers that turn the spool
into write-side counts from outside the program."""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from collections import defaultdict

from reverse_etl_homebrew_spark.sinks.transport import MAX_RETRIES, RETRY_STATUSES, FakeHubSpot


def no_sleep(_seconds: float) -> None:
    """Backoff sleeper for the writer: retries happen at once."""


class TimedHubSpot:
    """One partition's transport. Every request lands in FakeHubSpot's
    spool under ``spool_dir``; with ``latency_dir`` set, each call's
    latency in microseconds is appended to a per-process file there."""

    def __init__(self, spool_dir: str, fail_statuses: dict, latency_dir: str | None = None):
        self.inner = FakeHubSpot(spool_dir=spool_dir, fail_statuses=fail_statuses)
        self.latency_path = (
            os.path.join(latency_dir, f"lat-{uuid.uuid4().hex}.txt") if latency_dir else None
        )

    def _timed(self, call, *args):
        if self.latency_path is None:
            return call(*args)
        t0 = time.perf_counter_ns()
        out = call(*args)
        with open(self.latency_path, "a") as f:
            f.write(f"{(time.perf_counter_ns() - t0) / 1000.0}\n")
        return out

    def create(self, object_type, properties):
        return self._timed(self.inner.create, object_type, properties)

    def update(self, object_type, object_id, properties):
        return self._timed(self.inner.update, object_type, object_id, properties)


def spool_counts(spool_dir: str) -> dict:
    """Write-side counts from the request spool. One record is one
    natural key (creates) or remote id (updates); its calls run in one
    partition, in order. A record is exhausted when every one of its
    MAX_RETRIES calls returned a retryable status (the writer then
    reports the synthetic 599 status)."""
    statuses: dict[tuple, list[int]] = defaultdict(list)
    for path in glob.glob(os.path.join(spool_dir, "*.jsonl")):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                statuses[(rec["op"], rec.get("key") or rec.get("id"))].append(int(rec["status"]))
    calls = sum(len(s) for s in statuses.values())
    useful = sum(1 for s in statuses.values() if s[-1] in (200, 201))
    exhausted = sum(
        1 for s in statuses.values() if len(s) == MAX_RETRIES and all(x in RETRY_STATUSES for x in s)
    )
    return {
        "api_calls": calls,
        "api_retries": calls - len(statuses),
        "api_exhausted": exhausted,
        "records": len(statuses),
        "useful_writes": useful,
    }


def latencies_us(latency_dir: str) -> list[float]:
    out: list[float] = []
    for path in glob.glob(os.path.join(latency_dir, "lat-*.txt")):
        with open(path) as f:
            out.extend(float(x) for x in f if x.strip())
    return out
