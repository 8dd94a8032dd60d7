"""Cheap physical-plan pins that a default `pytest tests/` run executes:
the plan shapes a complexity bound depends on. Each builds its plan at
the parity scale factor (sf0.001 by default) in seconds; the broader
plan census lives in the audit tier (test_plans.py)."""

from __future__ import annotations

import re

import pytest
from conftest import PARITY_SF_DIR

from film_media_etl_spark.etl import star
from film_media_etl_spark.etl.star import build_fact_sales
from film_media_etl_spark.plans import assert_read_schema_pruned, physical_plan, plan_summary
from film_media_etl_spark.queries import all_queries
from film_media_etl_spark.sources import load_table


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


def test_star_rebuild_compiles_no_new_classes(spark):
    """A second build_star over the same input reuses every generated
    class from the first: Spark's codegen cache (sized in
    session.get_spark) holds the build's whole class set, so the rebuild
    pays no Janino compiles, on the driver or inside tasks. With Spark's
    default cache of 100 classes a rebuild recompiled most of them."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    star._STAR_CACHE.clear()
    star.build_star(spark, PARITY_SF_DIR)
    star._STAR_CACHE.clear()
    before = compiles.getCount()
    star.build_star(spark, PARITY_SF_DIR)
    assert compiles.getCount() - before == 0


def _jobs_run(spark, fn) -> int:
    """Spark jobs (outside any job group) started while ``fn`` runs."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    fn()
    return len(set(tracker.getJobIdsForGroup(None)) - before)


def test_load_table_infers_each_schema_once(spark):
    """The first read of a source table in a session infers its schema
    (a footer job); a second read of the same file starts no job."""
    load_table(spark, PARITY_SF_DIR, "nation")
    assert _jobs_run(spark, lambda: load_table(spark, PARITY_SF_DIR, "nation")) == 0


def test_load_table_rereads_schema_of_rewritten_table(spark, tmp_path):
    """A table rewritten at the same path is read with its new schema,
    not the one inferred for the old file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [3.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 3.5)]


def test_star_rebuild_job_ceiling(spark):
    """A build_star rebuild runs at most 40 Spark jobs (38 at sf0.001 and
    sf0.01): every source schema comes from the session's memo, and one
    prepare_global_index call collects all four surrogate-key stats in
    two actions (it was one inference job per table read and two actions
    per key: 77 jobs)."""
    star._STAR_CACHE.clear()
    star.build_star(spark, PARITY_SF_DIR)
    star._STAR_CACHE.clear()
    assert _jobs_run(spark, lambda: star.build_star(spark, PARITY_SF_DIR)) <= 40


_SUMMARY_REPORTS = [
    n for n in sorted(all_queries())
    if n.startswith("report_r") and int(n[8:10]) in (1, 2, 3, 4, 7, 8, 9, 11, 12, 13, 14)
]


@pytest.mark.parametrize("name", _SUMMARY_REPORTS)
def test_summary_reports_scan_only_the_summary(spark, name):
    """The additive reports read the sales_summary table build_star
    wrote (one file; 2,379 rows at sf0.01), never the fact: no report
    call re-aggregates the fact_sales rows, not even inside r02's and
    r11's scalar subqueries."""
    summary = star.build_star(spark, PARITY_SF_DIR)["sales_summary"]
    assert len(summary.inputFiles()) == 1
    df = _q(name, spark)
    df.collect()  # finalize AQE
    scans = re.findall(r"FileScan parquet [^\n]*", physical_plan(df))
    assert any("/sales_summary]" in s for s in scans), scans
    assert not any("/fact_sales]" in s for s in scans), scans


def test_warehouse_report_job_ceiling(spark):
    """Warm, the flagship and the 15 reports start at most 45 Spark jobs
    in all through a noop save (56 when sales_summary was a lazy
    aggregate over the fact that every report call re-ran)."""
    ops = ["flagship_revenue_by_year", *sorted(n for n in all_queries() if n.startswith("report_r"))]
    assert len(ops) == 16

    def run_all():
        for name in ops:
            _q(name, spark).write.mode("overwrite").format("noop").save()

    run_all()
    assert _jobs_run(spark, run_all) <= 45


def test_token_budget_guard_reuses_the_documents_exchange(spark):
    """ext_token_budget_sample's value-neutral guard
    (0 * min(xxhash64(h, doc_id))) keeps the bin aggregate's exchange
    subtree equal to the window's, so AQE reuses the repartition
    exchange: the executed plan scans documents once."""
    df = _q("ext_token_budget_sample", spark)
    df.collect()  # finalize AQE
    plan = physical_plan(df)
    final = plan[plan.index("== Final Plan =="):plan.index("\n+- == Initial Plan ==")]
    scans = re.findall(r"FileScan parquet [^\n]*/documents\.parquet", final)
    assert len(scans) == 1, scans
    assert re.search(r"ReusedExchange [^\n]*REPARTITION_BY_COL", final)


def test_bm25_topk_and_pruned_scan(spark):
    """Top-20 must plan as TakeOrderedAndProject (distributed top-k, no
    global sort). The documents scan lives in the checkpointed per-doc
    frame's lineage (map-side scoring), so its (doc_id, text) pruning is
    pinned on that frame; the outer plan must show ZERO corpus-keyed
    exchanges — scoring is map-side over the checkpoint plus one 1-row
    broadcast."""
    from film_media_etl_spark.queries.retail_analytics import _bm25_per_doc

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


@pytest.mark.parametrize(
    "name, id_cols",
    [
        ("ext_dedup_minhash", ("doc_id_a", "doc_id_b")),
        ("ext_dedup_simhash", ("doc_id_a", "doc_id_b")),
        ("ext_multimodal_phash_near_dup", ("id_a", "id_b")),
    ],
)
def test_banded_pair_ops_emit_each_pair_once(spark, name, id_cols):
    """The banded pair ops emit a pair at its first colliding band only
    (operators/dedup._first_band_gate), so no pair repeats — no
    duplicate row, no mirrored (b, a) row — and no aggregate (a
    distinct() shuffle) is needed to get there."""
    df = _q(name, spark)
    assert df.count() == df.distinct().count() > 0
    pairs = {(r[id_cols[0]], r[id_cols[1]]) for r in df.select(*id_cols).collect()}
    assert not {(a, b) for a, b in pairs if (b, a) in pairs}
    assert "HashAggregate" not in physical_plan(df)


# Corpus scans that tokenize, per corpus curation op: the distinct
# `text` attributes fed to the word split (functions.text.tokens) in the
# executed plan. Each is one pass over the documents that splits every
# text. Ceilings, so a new re-tokenizing scan fails here; lowering them
# is a plan change, not a spelling change.
_TOKENIZING_SCANS = {
    "ext_dedup_exact": 0,
    "ext_dedup_minhash_survivors": 3,
    "ext_dedup_substring": 3,
    "ext_repetition_signals": 1,
    "ext_unigram_tokenize": 3,
    "ext_curation_pipeline": 1,
}


@pytest.mark.parametrize("name", sorted(_TOKENIZING_SCANS))
def test_tokenizing_scan_census(spark, name):
    df = _q(name, spark)
    df.collect()  # finalize AQE
    plan = physical_plan(df)
    # the outer plan's Initial Plan marker is the unindented one
    final = plan[plan.index("== Final Plan =="):plan.index("\n+- == Initial Plan ==")]
    scans = set(re.findall(r"split\(lower\((?:coalesce\()?text#(\d+)", final))
    assert len(scans) <= _TOKENIZING_SCANS[name], sorted(scans)
