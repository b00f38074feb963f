"""Guard against program code that only tests call.

Every top-level ``def``/``class`` in ``lexmapr_spark/`` must be named
by program code — the package itself, ``__spark_entry__.py``,
``bench.py``, ``tools/``, ``perfbench/`` or ``bin/`` — somewhere
outside its own body. A second copy of an operator that only a test
exercises fails here; delete it, or point its test at the served
implementation. The few deliberate exceptions are listed with their
reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "lexmapr_spark"
PROGRAM = ("lexmapr_spark", "__spark_entry__.py", "bench.py", "tools",
           "perfbench", "bin")

# name -> why it may stay without a program caller
ALLOWED = {
    "_semantic_dedup_pairjoin":
        "pair-join reference that test_semantic_dedup_matches_pairjoin "
        "pins semantic_dedup against",
    "write_triples":
        "partitioned triple-table sink, the public form of the "
        "north star's partitioned triple tables",
    "stream_pages": "public Structured Streaming KG entry point",
    "stream_triples": "public Structured Streaming KG entry point",
    "read_samples_df":
        "public csv/tsv sample reader (the reference's input format)",
    "get_profile_lexicon":
        "public port of the reference's --profile lexicon loader",
    "write_fetched_ontology":
        "public port of the reference's fetched-ontology artifact writer",
    "local_test_ontology":
        "path helper for the reference's test OWL files shipped in tests/",
}


def _program_files():
    for rel in PROGRAM:
        path = ROOT / rel
        if path.is_file():
            yield path
        elif rel == "bin":
            yield from (p for p in sorted(path.iterdir()) if p.is_file())
        else:
            yield from sorted(path.rglob("*.py"))


def _scan():
    """(defs, refs): every top-level def/class of the package as
    (file, name), and every name the program reads mapped to the
    top-level defs it is read from (None: module level)."""
    defs, refs = [], {}
    for path in _program_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            owner = None
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef,
                                ast.ClassDef)):
                owner = (path, top.name)
                if PACKAGE in path.parents:
                    defs.append(owner)
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                elif isinstance(node, ast.alias):
                    name = node.name.rsplit(".", 1)[-1]
                else:
                    continue
                refs.setdefault(name, set()).add(owner)
    return defs, refs


def test_every_package_def_has_a_program_caller():
    defs, refs = _scan()
    unused = sorted(
        f"{path.relative_to(ROOT)}:{name}" for path, name in defs
        if name not in ALLOWED
        and not refs.get(name, set()) - {(path, name)})
    assert not unused, (
        "package defs referenced only by tests (or nowhere): "
        f"{unused} — delete them or call the served implementation")


def test_allowlist_names_existing_uncalled_defs():
    # an entry whose def is gone, or that gained a program caller,
    # is stale and must leave the list
    defs, refs = _scan()
    names = {name for _, name in defs}
    assert not set(ALLOWED) - names, set(ALLOWED) - names
    called = sorted(name for path, name in defs
                    if name in ALLOWED
                    and refs.get(name, set()) - {(path, name)})
    assert not called, called
