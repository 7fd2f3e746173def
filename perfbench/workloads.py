"""The benchmark's workloads. Each is one closed-loop client: an
iteration runs its operations one after another, and each operation's
output is checked, untimed, against what the seed predicts (sync runs)
or against the DuckDB oracle's result (query keys)."""

from __future__ import annotations

import datetime as dt
import decimal
import functools
import hashlib
import math
import os
import time
import traceback

import numpy as np

from perfbench import gen, hubspot

#: dedup-survivorship and corpus-refresh-pipeline are left out so that
#: a run fits the benchmark's time budget on a contended 4-vCPU host:
#: the first runs the same MinHash -> components machinery as
#: fuzzy-dedup-clusters, the second alone took 7-21 s of a 20-55 s
#: iteration
CORPUS_KEYS = ("fuzzy-dedup-clusters", "knn-join-lsh")
JOBS = ("patients", "rois")


class Ctx:
    """What a workload needs: the session, the generated inputs, a
    scratch directory, the span factory (a no-op when untraced) and a
    clock of the CPU seconds this process and the Spark processes have
    used."""

    def __init__(self, spark, inputs: gen.Inputs, sf: float, work: str, span, cpu_clock):
        self.spark = spark
        self.inputs = inputs
        self.sf = sf
        self.work = work
        self.span = span
        self.cpu_clock = cpu_clock
        self.latency_dir: str | None = None
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{tag}-{self._n}")
        os.makedirs(path)
        return path


def run_op(ctx: Ctx, name: str, body, check) -> dict:
    """One operation: ``body()`` timed (wall, and CPU of this process
    and the Spark processes) inside span ``op``, then
    ``check(result)`` (None when the output is right) untimed inside
    span ``verify``. An exception from either fails the operation."""
    err, result = None, None
    cpu0 = ctx.cpu_clock()
    t0 = time.perf_counter()
    try:
        with ctx.span("op", op=name):
            result = body()
        seconds = time.perf_counter() - t0
        cpu = ctx.cpu_clock() - cpu0
        with ctx.span("verify", op=name):
            err = check(result)
    except Exception:
        seconds = time.perf_counter() - t0
        cpu = ctx.cpu_clock() - cpu0
        err = traceback.format_exc(limit=3)
    return {"name": name, "s": seconds, "cpu_s": cpu, "ok": err is None, "error": err, "result": result}


# ---- query keys ------------------------------------------------------------


def _norm(v):
    """One cell in comparable form (floats bit-exact). A copy of the
    normaliser in tests/test_oracle_parity.py, kept in step by hand:
    the benchmark imports nothing from the repository's tests."""
    if isinstance(v, float):
        return ("fnan",) if math.isnan(v) else ("f", v)
    if isinstance(v, decimal.Decimal):
        return ("f", float(v))
    if isinstance(v, dt.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if v is None:
        return ("n",)
    return ("s", str(v))


def fingerprint(cols, rows) -> tuple[int, str]:
    """Row count and digest of a result as a multiset of rows over
    sorted column names: equal fingerprints mean equal results, row
    order aside."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    rowset = sorted(tuple(_norm(r[i]) for i in idx) for r in rows)
    return len(rowset), hashlib.sha256(repr((sorted(cols), rowset)).encode()).hexdigest()


def oracle_fingerprints(keys, data_dir: str) -> dict[str, tuple[int, str]]:
    """Fingerprint of each key's DuckDB oracle over the same parquet files."""
    import duckdb

    from reverse_etl_homebrew_spark import queries as Q

    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for key in keys:
            res = con.execute(Q.ORACLE[key])
            out[key] = fingerprint([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


class QueryMix:
    """Registered query keys, each built through ``queries.QUERIES``
    and executed by collecting its rows into this process. Set-up runs each
    key's DuckDB oracle; every iteration compares the fingerprint of
    each key's collected rows (untimed) with the oracle's. Collecting
    instead of a noop write lets one execution serve both the timing
    and the check; at the benchmark's size the corpus keys return under
    a thousand rows."""

    kind = "queries"

    def __init__(self, keys):
        self.keys = tuple(keys)
        self.expected: dict[str, tuple[int, str]] = {}

    def prepare(self, ctx: Ctx) -> None:
        self.expected = oracle_fingerprints(self.keys, ctx.inputs.data)

    def iteration(self, ctx: Ctx) -> dict:
        from reverse_etl_homebrew_spark import queries as Q

        def op(key):
            def body():
                with ctx.span("queries.build", key=key):
                    df = Q.QUERIES[key](ctx.spark, ctx.inputs.data)
                with ctx.span("queries.execute", key=key):
                    return df.columns, df.collect()

            def check(result):
                got, want = fingerprint(*result), self.expected[key]
                if got != want:
                    return f"output ({got[0]} rows) differs from the DuckDB oracle ({want[0]} rows)"
                return None

            return run_op(ctx, key, body, check)

        return {"ops": [op(key) for key in self.keys]}


# ---- sync runs -------------------------------------------------------------


def expected_status(outcomes: np.ndarray, keys: np.ndarray, exhausted) -> dict:
    """``run_sync``'s status dict as the outcome rules predict it."""
    ex = np.isin(keys.astype(str), list(exhausted))
    create = outcomes == "create"
    update = np.isin(outcomes, ["update", "adopt"])
    skip = np.isin(outcomes, ["skip_processed", "skip_override"])
    dlq = np.array([str(o).startswith("dlq_") for o in outcomes], dtype=bool)
    return {
        "status": "partial" if ex.any() else "success",
        "read": int(len(keys)),
        "created": int((create & ~ex).sum()),
        "updated": int((update & ~ex).sum()),
        "skipped": int(skip.sum()),
        "errors": int(dlq.sum() + ex.sum()),
    }


class Sync:
    """``run_sync`` for patients then ROIs into an empty control
    workdir, against the benchmark's transport with scripted transient
    and permanent write failures."""

    kind = "sync"

    def __init__(self):
        self.expected: dict[str, dict] = {}

    def prepare(self, ctx: Ctx) -> None:
        n = gen.sizes(ctx.sf)
        cust, orders = np.arange(n["customer"]), np.arange(n["orders"])
        ex = ctx.inputs.exhausted
        self.expected = {
            "patients": expected_status(gen.patient_outcomes(cust), cust, ex["patients"]),
            "rois": expected_status(gen.roi_outcomes(orders), orders, ex["rois"]),
        }

    def iteration(self, ctx: Ctx) -> dict:
        """Patients then ROIs. Each op's result is ``run_sync``'s status
        dict; its ``spool`` entry holds the write-side counts read from
        the transport's request spool."""
        from reverse_etl_homebrew_spark.streaming.incremental import run_sync

        workdir = ctx.fresh_dir("control")

        def op(job):
            spool = ctx.fresh_dir(f"spool-{job}")
            factory = functools.partial(
                hubspot.TimedHubSpot, spool, ctx.inputs.fail_statuses[job], ctx.latency_dir
            )

            def body():
                return run_sync(
                    ctx.spark, job, ctx.inputs.data, workdir, factory, sleeper=hubspot.no_sleep
                )

            def check(status):
                if status != self.expected[job]:
                    return f"status {status} != predicted {self.expected[job]}"
                return None

            out = run_op(ctx, job, body, check)
            out["spool"] = hubspot.spool_counts(spool)
            return out

        return {"ops": [op(job) for job in JOBS], "workdir": workdir}


WORKLOADS = {
    "sync-backfill": Sync,
    "corpus-dedup": lambda: QueryMix(CORPUS_KEYS),
}
