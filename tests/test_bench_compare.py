"""tools/bench_compare.py compares only records of one core count and one
bench harness."""

from __future__ import annotations

import json
import subprocess
import sys

from conftest import REPO_ROOT

TOOL = f"{REPO_ROOT}/tools/bench_compare.py"


def _compare(tmp_path, old: dict, new: dict):
    paths = []
    for name, rec in (("old.json", old), ("new.json", new)):
        p = tmp_path / name
        p.write_text(json.dumps(rec))
        paths.append(str(p))
    return subprocess.run([sys.executable, TOOL, *paths], capture_output=True, text=True)


def _record(**provenance) -> dict:
    return {"value": 1.0, "queries": {"q": 1.0}, "spread": {"q": 0.1}, **provenance}


def test_refuses_records_from_different_core_counts(tmp_path):
    # a BENCH_r*.json wrapper carries cpus outside its parsed line
    old = {"cpus": 32, "parsed": _record(bench_sha="abc")}
    r = _compare(tmp_path, old, _record(cpus=4, bench_sha="abc"))
    assert r.returncode == 2
    assert "cpus differs" in r.stderr


def test_refuses_records_from_different_harnesses(tmp_path):
    r = _compare(tmp_path, _record(cpus=4, bench_sha="abc"), _record(cpus=4, bench_sha="def"))
    assert r.returncode == 2
    assert "bench_sha differs" in r.stderr


def test_warns_when_provenance_is_missing(tmp_path):
    r = _compare(tmp_path, _record(), _record(cpus=4, bench_sha="abc"))
    assert r.returncode == 0
    assert "lacks 'cpus'" in r.stderr and "lacks 'bench_sha'" in r.stderr
    assert "0 regressions beyond noise" in r.stdout
