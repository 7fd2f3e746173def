"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The module-scoped fixtures run ``perfbench/run.py`` traced, twice on
one seed per workload, so the whole file takes several minutes.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, hubspot, run, trace  # noqa: E402

SEED = 3
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _tree_digest(path: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(path.rglob("*")):
        if p.is_file() and "__pycache__" not in p.parts:
            h.update(str(p.relative_to(path)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def _run(workload: str, trace_flag: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace_flag)],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    record = json.loads((run.OUT / f"{workload}-seed{SEED}-trace{trace_flag}.json").read_text())
    return result, record


@functools.lru_cache(maxsize=None)
def _traced_twice(workload: str):
    before = _tree_digest(ROOT / run.PKG)
    first = _run(workload, 1)
    second = _run(workload, 1)
    return first, second, before, _tree_digest(ROOT / run.PKG)


@pytest.fixture(scope="module", params=[w["name"] for w in SPEC["workloads"]])
def traced(request):
    return request.param, _traced_twice(request.param)


def test_declared_metrics_match_the_code():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.LAYER_METRICS


def test_inputs_repeat_byte_for_byte(tmp_path):
    digests = []
    for sub, seed in (("a", 5), ("b", 5), ("c", 6)):
        inp = gen.generate(str(tmp_path / sub), seed, 0.002)
        digests.append((_tree_digest(Path(inp.data)), inp.fail_statuses))
    assert digests[0] == digests[1]
    assert digests[0][0] != digests[2][0]


def test_documents_hold_revision_chains():
    import numpy as np

    n = 5000
    docs = [t.split() for t in gen._documents(np.random.default_rng(7), n).column("text").to_pylist()]
    runs = [1]
    for a, b in zip(docs[n - int(n * gen.CHAIN_SHARE):], docs[n - int(n * gen.CHAIN_SHARE) + 1:]):
        revision = len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1
        runs[-1:] = [runs[-1] + 1] if revision else [runs[-1], 1]
    # every chain but a cut-off last one is a run of one-word revisions
    assert len(runs) > 1
    assert all(gen.CHAIN_LENGTH[0] <= r < gen.CHAIN_LENGTH[1] for r in runs[:-1])


def test_spool_counts_equal_the_scripted_failures(tmp_path):
    from reverse_etl_homebrew_spark.sinks import api_writer

    script = {"1": [503, 429], "2": [429] * 5, "3": [500]}
    t = hubspot.TimedHubSpot(str(tmp_path / "spool"), script, str(tmp_path))
    for key in ("1", "2", "3", "4"):
        row = {"natural_key": key, "hubspot_id": None, "properties_json": "{}"}
        api_writer._send_with_retry(t, "contact", row, hubspot.no_sleep)
    counts = hubspot.spool_counts(str(tmp_path / "spool"))
    assert counts["api_calls"] == 4 + 2 + 4 + 1
    assert counts["api_retries"] == 2 + 4 + 1
    assert counts["api_exhausted"] == 1
    assert counts["useful_writes"] == 3
    assert len(hubspot.latencies_us(str(tmp_path))) == counts["api_calls"]


def test_emitted_metrics_are_declared(traced):
    _, ((result, _), _, _, _) = traced
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert 0 <= result["failed"] <= result["attempted"]


def test_spans_nest_and_self_times_are_not_negative(traced):
    _, ((_, record), _, _, _) = traced
    spans = {s["id"]: s for s in record["spans"]}
    for s in spans.values():
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
            assert p["run"] == s["run"]
    for sid, self_s in trace.self_times(list(spans.values())).items():
        assert self_s >= -1e-6, spans[sid]


def test_deterministic_counts_repeat(traced):
    _, ((_, a), (_, b), _, _) = traced
    for name in (
        "queries.build_jobs",
        "plan.arrow_eval_python_nodes",
        "sinks.api_calls",
        "control.idmap_rows_written",
    ):
        assert a["per_layer"][name] == b["per_layer"][name], name
    assert {k: v["build_jobs"] for k, v in a["per_key"].items()} == {
        k: v["build_jobs"] for k, v in b["per_key"].items()
    }


def test_write_counts_equal_the_injected_failures(traced, tmp_path):
    workload, ((_, record), _, _, _) = traced
    if workload != "sync-backfill":
        pytest.skip("only the backfill scripts write failures")
    inp = gen.generate(str(tmp_path / "inputs"), SEED, run.SF)
    transient = sum(len(v) for v in inp.fail_statuses.values()) - sum(
        len(v) for v in inp.exhausted.values()
    )
    exhausted = sum(len(v) for v in inp.exhausted.values())
    layers = record["per_layer"]
    assert layers["sinks.api_exhausted"] == exhausted
    assert layers["sinks.api_retries"] == 2 * transient + (gen.MAX_ATTEMPTS - 1) * exhausted
    assert record["write_fail_share"] > 0


def test_package_tree_is_unchanged_by_a_run(traced):
    _, (_, _, before, after) = traced
    assert before == after


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns("out", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
