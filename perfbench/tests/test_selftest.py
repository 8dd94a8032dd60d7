"""Benchmark self-test: one short pass of every workload at sf0.001.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each workload runs untraced and traced through the real command line. The
test checks the result line, that every metric BENCHMARK.json names is
emitted with its unit, and that the gate catches a corrupted op output.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(ROOT))


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--scale", "sf0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    record, result = (json.loads(line) for line in r.stdout.strip().splitlines()[-2:])
    return record, result


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric(workload):
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        record, result = run(workload, trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0, record["errors"]
        assert result["attempted"] >= 1
        assert set(result["metrics"]) == {m["name"] for m in SPEC[kind]}
        for m in SPEC[kind]:
            got = result["metrics"][m["name"]]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], (int, float))
        if trace:
            assert record["trace_baseline"], "no untraced record to measure overhead against"
        else:
            assert all(result["metrics"][m["name"]]["value"] > 0 for m in SPEC[kind])


def test_gate_catches_corrupted_outputs():
    from perfbench.workloads import ROUNDS

    # The corruption duplicates one row of each op's first output, the one
    # the gate checks; the timed executions after it stay clean.
    record, result = run("corpus_curation", 0, "--corrupt", "ext_dedup_exact,ext_unigram_tokenize")
    assert result["correct"] is False
    assert record["errors"]["ext_dedup_exact"].startswith("oracle mismatch")
    assert "fingerprint" in record["errors"]["ext_unigram_tokenize"]  # no oracle
    assert result["failed"] == 2 * ROUNDS["corpus_curation"] * record["passes"]


def test_canonical_hash_ignores_order_and_sees_values():
    from perfbench.gate import canonical_hash

    rows = [(1, "a", 0.5), (2, None, 1.25)]
    assert canonical_hash(["k", "s", "x"], rows) == canonical_hash(
        ["x", "k", "s"], [(r[2], r[0], r[1]) for r in reversed(rows)]
    )
    assert canonical_hash(["k", "s", "x"], rows) != canonical_hash(
        ["k", "s", "x"], [(1, "a", 0.5), (2, None, 1.2500000000000002)]
    )
