"""Source-level rules: decisions that must be spelled in one module."""

from __future__ import annotations

import ast
import re
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


def _is_call(node, name: str) -> bool:
    """``node`` is a call of ``F.<name>`` (or a bare ``<name>``)."""
    f = getattr(node, "func", None)
    return isinstance(node, ast.Call) and (
        (isinstance(f, ast.Attribute) and f.attr == name)
        or (isinstance(f, ast.Name) and f.id == name)
    )


def _hand_rolled_grams(tree: ast.AST) -> list[int]:
    """Line numbers of hand-rolled word-gram and adjacent-pair spellings:
    ``transform(sequence(...), i -> array_join(slice(toks, i..., n)))``,
    whose slice starts at the lambda variable, and
    ``zip_with(slice(x, ...), slice(x, ...))`` of one array with itself.
    A plain name resolves to the value assigned to it in the same
    function."""
    hits = []
    for fn in [tree, *(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef))]:
        bound = {}
        for a in ast.walk(fn):
            if isinstance(a, ast.Assign) and len(a.targets) == 1 and isinstance(a.targets[0], ast.Name):
                bound[a.targets[0].id] = a.value

        def resolve(node):
            return bound.get(node.id, node) if isinstance(node, ast.Name) else node

        for call in ast.walk(fn):
            if _is_call(call, "transform") and len(call.args) == 2:
                seq, lam = resolve(call.args[0]), call.args[1]
                if _is_call(seq, "sequence") and isinstance(lam, ast.Lambda):
                    params = {a.arg for a in lam.args.args}
                    for j in ast.walk(lam.body):
                        sl = j.args[0] if _is_call(j, "array_join") and j.args else None
                        if _is_call(sl, "slice") and len(sl.args) == 3 and any(
                            isinstance(v, ast.Name) and v.id in params for v in ast.walk(sl.args[1])
                        ):
                            hits.append(call.lineno)
            if _is_call(call, "zip_with") and len(call.args) >= 2:
                a, b = resolve(call.args[0]), resolve(call.args[1])
                if _is_call(a, "slice") and _is_call(b, "slice"):
                    if ast.dump(a.args[0]) == ast.dump(b.args[0]):
                        hits.append(call.lineno)
    for c in ast.walk(tree):
        if isinstance(c, ast.Constant) and isinstance(c.value, str):
            if re.search(r"zip_with\(\s*slice\(", c.value):
                hits.append(c.lineno)
    return sorted(set(hits))


def test_word_ngrams_are_spelled_only_in_functions_text():
    """Word n-grams (functions/text.ngrams, shingles) and adjacent pairs
    of an array (functions/text.adjacent_pairs) are spelled once, in
    functions/text.py; every other module calls them. Chunk slicing
    (fixed-width token spans) is a different idiom and is not flagged."""
    hits = {
        str(p.relative_to(PKG)): lines
        for p in PKG.rglob("*.py")
        if (lines := _hand_rolled_grams(ast.parse(p.read_text())))
    }
    assert set(hits) <= {"functions/text.py"}, hits
