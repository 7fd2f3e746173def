"""Seeded input generation for the benchmark.

Writes the ten catalog tables the engine reads (same names, column
types and value domains as the testdata tables of FIXTURES.md,
family A) into a directory, from a seed alone: the same seed and
size give byte-identical parquet files. It also scripts the transport
failures for the backfill.

Row counts scale with ``sf`` exactly like the testdata: sf=0.1 gives
customer 15 000, orders 150 000, lineitem 600 000, events 100 000,
documents 5 000 and embeddings 2 000 rows.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUSES = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["small", "red", "blue", "hot", "new", "old", "big", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMBED_DIM = 64

#: failure scripts (FakeHubSpot fail_statuses): transient keys fail
#: with these statuses and then succeed; permanent keys return 429 on
#: every attempt, exhaust the retry ladder and land in the DLQ as 599
TRANSIENT_STATUSES = (503, 429)
TRANSIENT_SHARE = 0.01
PERMANENT_PER_JOB = 5

#: attempts per record before the writer gives up (transport.MAX_RETRIES)
MAX_ATTEMPTS = 5

#: revision chains in ``documents``: each chain is one text edited
#: again and again, one word replaced per revision (see _documents)
CHAIN_SHARE = 0.04
CHAIN_LENGTH = (25, 41)
CHAIN_WORDS = (150, 201)

#: all timestamps are naive (TIMESTAMP_NTZ in Spark, like the testdata)
_TS = pa.timestamp("us")


@dataclass
class Inputs:
    """Where the generated tables live and what was scripted into them."""

    data: str
    #: natural_key -> statuses for FakeHubSpot(fail_statuses=...), per job
    fail_statuses: dict = field(default_factory=dict)
    #: keys scripted to fail forever, per job
    exhausted: dict = field(default_factory=dict)


# ---- expected plan outcomes ------------------------------------------------
# The sync plans label rows by fixed rules of the natural key (see
# plans/patients.py and plans/rois.py). These numpy twins of those
# rules predict each run's status counts from the seed alone.

WRITTEN = ("create", "update", "adopt")


def patient_outcomes(keys: np.ndarray) -> np.ndarray:
    """Outcome per c_custkey in a run over an empty ID map."""
    out = np.full(keys.shape, "create", dtype=object)
    out[keys % 3 == 0] = "adopt"
    out[keys % 21 == 0] = "dlq_ambiguous"
    out[keys % 17 == 0] = "dlq_no_email"
    out[keys % 5 == 0] = "update"
    return out


def roi_outcomes(keys: np.ndarray) -> np.ndarray:
    """Outcome per o_orderkey (every generated o_custkey resolves)."""
    out = np.full(keys.shape, "create", dtype=object)
    out[keys % 7 == 0] = "update"
    out[keys % 13 == 0] = "skip_override"
    out[keys % 11 == 0] = "skip_processed"
    return out


OUTCOMES = {"patients": patient_outcomes, "rois": roi_outcomes}


def sizes(sf: float) -> dict:
    def n(base: int) -> int:
        return max(1, int(round(base * sf / 0.1)))

    return {
        "customer": n(15_000), "supplier": n(1_000), "part": n(20_000),
        "orders": n(150_000), "lineitem": n(600_000), "events": n(100_000),
        "documents": n(5_000), "embeddings": n(2_000),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(path: str, table: pa.Table) -> None:
    # fixed codec and a single row group: the bytes depend on the data alone
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 24)


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words texts over the testdata's 31-word vocabulary.

    Near-duplicates come in two shapes. As in the testdata, 5% of the
    docs are a copy of an original plus one word and a few are exact
    copies: clusters of 2-4 docs that are all pairwise similar
    (diameter 1; the word-3-gram Jaccard >= 0.5 pairs of the
    testdata's sf0.01 and sf0.1 documents form only such clusters).
    On top of that, CHAIN_SHARE of the docs are revision chains: 25-40
    successive edits of one 150-200-word text, each replacing one word
    of the one before, ids rising along the chain. Similarity falls
    with the distance along the chain, and the MinHash stage finds
    only the pairs a few revisions apart, so in the pair graph a
    chain's first revision (its cluster's min id) is 2-6 hops from the
    farthest one (measured over 25 seeds at sf0.02), and min-label
    propagation needs that many rounds, plus one. Shorter
    texts would lengthen the diameter but let the MinHash stage miss
    every pair across one revision now and then, splitting a cluster
    the oracle keeps whole (80-120 words: 3 seeds in 30)."""
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lengths]
    n_chain = int(n * CHAIN_SHARE)
    plain = n - n_chain
    originals = max(2, int(plain * 0.94))
    near = rng.choice(np.arange(originals, plain), size=min(plain - originals, int(n * 0.05)), replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, originals))] + " dup"
    for i in sorted(set(range(originals, plain)) - set(near.tolist())):
        texts[i] = texts[int(rng.integers(0, originals))]
    i = plain
    while i < n:
        words = list(rng.choice(_WORDS, int(rng.integers(*CHAIN_WORDS))))
        for k in range(min(int(rng.integers(*CHAIN_LENGTH)), n - i)):
            if k:
                words[int(rng.integers(0, len(words)))] = rng.choice(_WORDS)
            texts[i] = " ".join(words)
            i += 1
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, _EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * _EMBED_DIM + 1, _EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _orders(rng, n: int, n_cust: int) -> pa.Table:
    dates = _days(rng, dt.datetime(1995, 1, 1), 2405, n)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": pa.array(rng.choice(_STATUSES, n), pa.string()),
            "o_totalprice": _money(rng, 1000, 500_000, n),
            "o_orderdate": pa.array(dates, _TS),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n), pa.string()),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> Inputs:
    """Write the tables under ``out_dir`` and script the transport
    failures; everything is a function of (seed, sf)."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    os.makedirs(out_dir)

    tables = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc), pa.string()),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, npart), rng.choice(_PART_NOUN, npart))],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)], pa.string()),
            "p_type": pa.array(rng.choice(_PART_TYPES, npart), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    tables["orders"] = _orders(rng, no, nc)
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18, 2100, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
            "l_shipdate": pa.array(_days(rng, dt.datetime(1995, 1, 2), 2498, nl), _TS),
        }
    )
    ne = n["events"]
    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, ne))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), _TS),
            "user_id": rng.integers(0, max(1, ne * 3 // 200), ne).astype(np.int64),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, ne), pa.string()),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    for name in TABLES:
        _write(os.path.join(out_dir, f"{name}.parquet"), tables[name])

    # ---- scripted transport failures (backfill) -------------------------
    # only keys the plan writes reach the transport, so scripts go there
    fail_statuses, exhausted = {}, {}
    for job, universe in (("patients", nc), ("rois", no)):
        keys = np.arange(universe)
        written = keys[np.isin(OUTCOMES[job](keys), list(WRITTEN))]
        picks = rng.choice(
            written, size=max(1, int(universe * TRANSIENT_SHARE)) + PERMANENT_PER_JOB, replace=False
        )
        perm = [str(k) for k in picks[:PERMANENT_PER_JOB]]
        script = {str(k): list(TRANSIENT_STATUSES) for k in picks[PERMANENT_PER_JOB:]}
        script.update({k: [429] * MAX_ATTEMPTS for k in perm})
        fail_statuses[job] = script
        exhausted[job] = perm
    return Inputs(data=out_dir, fail_statuses=fail_statuses, exhausted=exhausted)
