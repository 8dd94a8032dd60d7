"""tools/capture_plans.normalize_plan leaves only what the plan itself
decides: every per-session counter and per-process temp path becomes a
placeholder."""

from __future__ import annotations

import os
import sys

from conftest import REPO_ROOT

sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
from capture_plans import normalize_plan  # noqa: E402

_PLAN = """\
(1) Scan parquet
Output [2]: [year#1193, total_revenue#1198]
Location: InMemoryFileIndex [file:/tmp/fmes_warehouse_31946/sf0.01/sales_summary]
(2) Scan parquet
Location: InMemoryFileIndex [file:/tmp/fmes_buckets_812/sf0.01/lineitem]
(3) Scan parquet
Location: InMemoryFileIndex [file:/tmp/dedup_index_k2_9xq7a/bands, file:/tmp/ivf_index_abc_1234]
(4) Scan ExistingRDD
Arguments: [doc_id#7L], MapPartitionsRDD[42] at applySchemaToPythonRDD at NativeMethodAccessorImpl.java:0
(5) Project
Arguments: [transform(toks#3, lambdafunction(upper(lambda x_17#18), lambda x_17#18, false)) AS u#20]
(6) Exchange
Arguments: hashpartitioning(year#1193, 4), ENSURE_REQUIREMENTS, [plan_id=13413]
"""

_WANT = """\
(1) Scan parquet
Output [2]: [year#N, total_revenue#N]
Location: InMemoryFileIndex [file:/tmp/fmes_warehouse_<pid>/sf0.01/sales_summary]
(2) Scan parquet
Location: InMemoryFileIndex [file:/tmp/fmes_buckets_<pid>/sf0.01/lineitem]
(3) Scan parquet
Location: InMemoryFileIndex [file:/tmp/dedup_index_<tmp>/bands, file:/tmp/ivf_index_<tmp>]
(4) Scan ExistingRDD
Arguments: [doc_id#NL], MapPartitionsRDD[N] at applySchemaToPythonRDD at NativeMethodAccessorImpl.java:0
(5) Project
Arguments: [transform(toks#N, lambdafunction(upper(lambda x_N#N), lambda x_N#N, false)) AS u#N]
(6) Exchange
Arguments: hashpartitioning(year#N, 4), ENSURE_REQUIREMENTS, [plan_id=N]
"""


def test_normalize_plan_replaces_every_per_process_id():
    assert normalize_plan(_PLAN) == _WANT
