"""Cheap physical-plan pins that a default `pytest tests/` run executes:
the plan shapes a complexity bound depends on. Each builds its plan at
the parity scale factor (sf0.001 by default) in seconds; the broader
plan census lives in the audit tier (test_plans.py)."""

from __future__ import annotations

import re

from conftest import PARITY_SF_DIR

from film_media_etl_spark.etl.star import build_fact_sales
from film_media_etl_spark.plans import assert_read_schema_pruned, physical_plan, plan_summary
from film_media_etl_spark.queries import all_queries


def _q(name, spark):
    return all_queries()[name](spark, PARITY_SF_DIR)


def test_fact_build_is_parallel_and_broadcast(spark):
    fact = build_fact_sales(spark, PARITY_SF_DIR)
    s = plan_summary(fact)
    # dim lookups are broadcast hash joins (reference's per-row which()
    # loops, ` loadAnalyticsAB...R`:469-480, must not become shuffles)
    assert s["broadcast_hash_joins"] >= 5
    assert s["cartesian_products"] == 0
    # The only SinglePartition exchange is the location dim's surrogate
    # window, bounded by geography. The surrogate-key indexes carry their
    # bucket offsets as literals, so no key-range or offsets aggregate
    # rides the plan; a ceiling at that one exchange catches any new
    # collapse to a single partition.
    assert s["single_partition_exchanges"] <= 1
    # ... and the corpus-sized fact rows are numbered by a window that is
    # hash-partitioned on the index bucket, not gathered to one partition.
    plan = physical_plan(fact)
    m = re.search(r"row_number\(\) windowspecdefinition\((_bucket#\d+), l_orderkey#", plan)
    assert m, "fact surrogate key is not a bucket-partitioned row_number"
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert f"Exchange hashpartitioning({m.group(1)}, {n})" in plan


def test_bm25_topk_and_pruned_scan(spark):
    """Top-20 must plan as TakeOrderedAndProject (distributed top-k, no
    global sort). The documents scan lives in the checkpointed per-doc
    frame's lineage (map-side scoring), so its (doc_id, text) pruning is
    pinned on that frame; the outer plan must show ZERO corpus-keyed
    exchanges — scoring is map-side over the checkpoint plus one 1-row
    broadcast."""
    from film_media_etl_spark.queries.retail_analytics import _bm25_per_doc
    from film_media_etl_spark.sources import load_table

    df = _q("ext_bm25_search", spark)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    per_doc = _bm25_per_doc(load_table(spark, PARITY_SF_DIR, "documents"))
    assert_read_schema_pruned(per_doc, "documents", 2)


def test_minhash_survivors_semi_join_scans_buckets_by_doc_id(spark):
    """The survivors probe stays near-linear only if each (band, bhash)
    merge group is scanned in ascending doc_id order. In the executed
    plan the LeftSemi SortMergeJoin's build side must be fed by the
    (band, bhash) window ordered by doc_id, with no Sort or Exchange
    between them (a re-sort would drop the doc_id order)."""
    df = _q("ext_dedup_minhash_survivors", spark)
    df.collect()  # finalize AQE
    plan = physical_plan(df)
    lines = plan[plan.index("== Final Plan =="):].splitlines()
    j = next(i for i, ln in enumerate(lines) if "SortMergeJoin" in ln and "LeftSemi" in ln)
    child_col = lines[j].index("+- ") + 3
    build = next(i for i in range(j + 1, len(lines)) if lines[i][child_col:child_col + 3] == "+- ")
    w = next(i for i in range(build, len(lines)) if re.search(r"\bWindow \[", lines[i]))
    assert re.search(
        r"windowspecdefinition\(band#\d+, bhash#\d+L?, doc_id#\d+L? ASC", lines[w]
    ), lines[w]
    between = lines[build:w]
    assert not any(re.search(r"\b(Sort|Exchange)\b", ln) for ln in between), "\n".join(between)
