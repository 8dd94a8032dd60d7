from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

# Parity tests default to smoke scale for speed; set SPARK_GRAFT_PARITY_SF
# to /root/testdata/sf0.01 to mirror the driver's t2 gate exactly.
PARITY_SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")


@contextmanager
def spark_conf(spark, overrides):
    """Temporarily apply session-conf overrides, restoring (or unsetting
    previously-unset keys) on exit — shared by every test that tunes
    optimizer thresholds to fixture scale."""
    old = {}
    for k, v in overrides.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset key
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="session")
def spark():
    from film_media_etl_spark.session import get_spark

    s = get_spark("fmes-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from film_media_etl_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{PARITY_SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


# Whole-engine physical audits (plan census, bench contract, skew
# torture, compaction layout, live JDBC): they validate the ENGINE's
# runtime behavior end-to-end and are minutes-per-file — inner-loop
# logic changes are covered by the unit tier; these run with the gate.
_AUDIT_FILES = {
    "test_bench_contract.py",
    "test_plans.py",
    "test_skew_torture.py",
    "test_zorder_compact.py",
    "test_jdbc.py",
    "test_observability.py",
    # statistical/lifecycle audits: recall floors against quadratic
    # ground truth, index crash-safety fault injection, ANN recall
    "test_dedup_recall.py",
    "test_graph_ops.py",
}


def pytest_collection_modifyitems(config, items):
    """Tier the suite (see pytest.ini): test_parity.py -> `parity`,
    test_streaming.py -> `streaming`, the physical audits -> `audit`,
    everything else -> `unit`. File-level assignment keeps the tiers
    exhaustive and disjoint — no test can silently fall out of all
    tiers.

    A plain `pytest tests/` runs the `unit` + `parity` tiers — the
    correctness evidence — and SKIPS the `streaming` and `audit` tiers
    (environment-heavy lifecycle and physical audits, minutes per file)
    so the default run fits a short test window. A gated tier runs when
    SPARK_GRAFT_FULL_TESTS=1 (the whole suite) or when the `-m`
    expression names it (`pytest -m audit`, `pytest -m streaming`);
    every skip names both switches."""
    import os
    import re

    import pytest as _pytest

    full = os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1"
    named = set(re.findall(r"\w+", config.getoption("markexpr") or ""))
    gated_skip = _pytest.mark.skip(
        reason="streaming/audit tier: skipped by default; set "
        "SPARK_GRAFT_FULL_TESTS=1 or select the tier with -m to run"
    )
    for item in items:
        fname = item.fspath.basename
        if fname == "test_parity.py":
            item.add_marker(_pytest.mark.parity)
        elif fname == "test_streaming.py":
            item.add_marker(_pytest.mark.streaming)
            if not (full or "streaming" in named):
                item.add_marker(gated_skip)
        elif fname in _AUDIT_FILES:
            item.add_marker(_pytest.mark.audit)
            if not (full or "audit" in named):
                item.add_marker(gated_skip)
        else:
            item.add_marker(_pytest.mark.unit)
