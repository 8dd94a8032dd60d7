"""Source-level rules: decisions that must be spelled in one module."""

from __future__ import annotations

from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "film_media_etl_spark"


def test_corpus_word_split_is_spelled_only_in_functions_text():
    """The corpus tokenization (lowercase, then split on single spaces)
    lives in functions/text.tokens; every other module calls it or one of
    its derived forms (token_set, token_hashes, shingles)."""
    hits = sorted(
        str(p.relative_to(PKG)) for p in PKG.rglob("*.py") if "F.split(F.lower(" in p.read_text()
    )
    assert hits == ["functions/text.py"], hits


def test_banded_lsh_core_is_spelled_only_in_operators_dedup():
    """The banded-LSH join's distinct token-hash set and its
    first-colliding-band gate live in operators/dedup.py; the persisted
    index, its stream writer and the pHash query call its helpers."""
    for needle in ("array_distinct(token_hashes(", "prev{p}"):
        hits = sorted(str(p.relative_to(PKG)) for p in PKG.rglob("*.py") if needle in p.read_text())
        assert hits == ["operators/dedup.py"], (needle, hits)


def test_source_tables_are_read_only_through_load_table():
    """A source table is read through sources.load_table, which infers
    its schema once per session and file version; a direct
    ``spark.read.parquet`` of a source path pays a schema-inference job
    on every call."""
    hits = sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if 'read.parquet(f"{sf_dir}/' in p.read_text()
    )
    assert set(hits) <= {"sources/parquet.py"}, hits
