"""Materialize REFERENCE-TRUTH fixtures for the 5 kg_* contract
queries, ending their five-round ``no_oracle`` blind spot.

The greedy matcher cascade is not SQL-expressible, so the DuckDB
oracle for the kg_* queries cannot re-derive matches — but it CAN
``SELECT`` from truth parquet produced by independent executions:

* ``ref_rows.parquet`` — per-document (url, macro_status, components,
  micro_status, labels) from the REFERENCE'S OWN ``pipeline.run``
  (``/root/reference/lexmapr/pipeline.py:22``), imported unmodified
  via the same dep-injection harness the full-pipeline differential
  uses (``tests/test_pipeline_differential.py``). The lookup table is
  compiled by the reference's own ``pipeline_resources`` from its CSVs
  with the three documented golden-parity deltas applied
  (``lexmapr_spark/lexicon.py`` GOLDEN_*), matching
  ``default_lexicon()`` — the lexicon every kg_* query broadcasts.
* ``confidence.parquet`` — per-document confidence level/score where
  the scoring function is the REFERENCE'S OWN dormant
  ``assign_confidence_level`` / ``get_head_noun``
  (``pipeline_helpers.py:577-703``, deterministic tagger injected into
  the reference module exactly as ``tests/test_confidence.py`` does).
  Matcher-internal inputs (sample/covered tokens) come from our pure-
  Python ``process_sample``, itself byte-pinned to the reference by
  the full-pipeline differential.
* ``canon_map.parquet`` — alias-graph canonicalization mapping
  computed by this script's own union-find over the same (src, dst)
  edge list ``engine.alias_edges`` builds. ``kg_canonical_triples``
  labels that graph on the driver too (``engine.alias_components``),
  not with a distributed connected-components run; this fixture stays
  the stored oracle it is compared against.

Re-run whenever the resource CSVs, the matcher, or the sf0.01 corpus
change:  python tools/build_kg_oracle_fixture.py
"""

from __future__ import annotations

import csv
import os
import sys
import tempfile
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("KG_ORACLE_SF_DIR", "/root/testdata/sf0.01")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests", "golden", "kg_oracle")


def _golden_parity_lookup_table():
    """The reference's own CSV-compiled lookup table with the
    documented golden-parity deltas (stale-cache behavior the golden
    corpus pins — see lexicon.py GOLDEN_*): stop words +by/of -f,
    abbreviation f->fahrenheit, synonyms disabled."""
    import importlib

    from tests.ref_classification_loader import load_reference_modules

    load_reference_modules()
    pres = importlib.import_module("lexmapr.pipeline_resources")
    lt = pres.add_predefined_resources_to_lookup_table(
        pres.create_lookup_table_skeleton())
    for w in ("by", "of"):
        lt["stop_words"][w] = ""
    lt["stop_words"].pop("f", None)
    lt["abbreviations"]["f"] = "fahrenheit"
    lt["synonyms"] = {}
    return pres, lt


def _load_docs():
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet' "
        "ORDER BY doc_id").fetchall()
    con.close()
    return [(f"doc://{i}", t if t is not None else "") for i, t in rows]


def build_ref_rows(docs):
    """Run the reference's pipeline.run (full+bucket) over the corpus;
    parse its TSV into per-doc truth rows."""
    import ast
    import importlib

    pres, lt = _golden_parity_lookup_table()
    pres.get_predefined_resources = lambda: lt   # read-only checkout:
    # the getter would otherwise try to cache-write into /root/reference
    pipeline = importlib.import_module("lexmapr.pipeline")

    with tempfile.TemporaryDirectory() as td:
        inp = os.path.join(td, "docs.csv")
        with open(inp, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["SampleId", "Sample"])
            w.writerows(docs)
        out = os.path.join(td, "ref.tsv")
        pipeline.run(types.SimpleNamespace(
            input_file=inp, output=out, full=True, bucket=True,
            config=None, profile=None, no_cache=False))
        lines = open(out).read().rstrip("\n").split("\n")
    header, body = lines[0].split("\t"), [l.split("\t") for l in lines[1:]]
    idx = {h: i for i, h in enumerate(header)}
    rows = []
    for cells in body:
        rows.append({
            "url": cells[idx["Sample_Id"]],
            "macro_status": cells[idx["Match_Status(Macro Level)"]],
            "components": ast.literal_eval(
                cells[idx["Matched_Components"]] or "[]"),
            "micro_status": [str(s) for s in ast.literal_eval(
                cells[idx["Match_Status(Micro Level)"]] or "[]")],
            "labels": [str(s) for s in ast.literal_eval(
                cells[idx["Third Party Classification"]] or "[]")],
        })
    assert len(rows) == len(docs), (len(rows), len(docs))
    return rows


def build_confidence(docs):
    """Per-doc confidence truth: reference's dormant scoring functions
    over pure-Python matcher outputs (tagger injected both sides)."""
    from lexmapr_spark import confidence as C
    from lexmapr_spark.lexicon import default_lexicon
    from lexmapr_spark.matcher import process_sample
    from tests.ref_classification_loader import load_reference_modules

    _, ref_helpers = load_reference_modules()
    penalty = C.load_penalty_dict()
    lex = default_lexicon()
    orig = ref_helpers.pos_tag
    ref_helpers.pos_tag = C.rule_pos_tag
    rows, memo = [], {}
    try:
        for url, text in docs:
            key = text
            if key in memo:
                level, score, macro = memo[key]
            else:
                res = process_sample(url, text, lex)
                hn = ref_helpers.get_head_noun(res.processed_sample)
                rendered = ref_helpers.assign_confidence_level(
                    res.sample_tokens, res.macro_status, res.micro_status,
                    penalty, set(res.covered_tokens), hn)
                cut = rendered.rfind(" (")
                level = rendered[:cut]
                score = float(rendered[cut + 2:-2])
                macro = res.macro_status
                memo[key] = (level, score, macro)
            rows.append({"url": url, "macro_status": macro,
                         "confidence_level": level,
                         "confidence_score": score})
    finally:
        ref_helpers.pos_tag = orig
    return rows


def build_canon_map():
    """Union-find (this script's own, separate from
    ``engine.alias_components``) over the alias edge list, rendered as
    the (obj, canon_obj) IRI mapping ``engine.canonicalize``
    broadcast-joins."""
    from lexmapr_spark.engine import OBO_PREFIX
    from lexmapr_spark.lexicon import default_lexicon

    lex = default_lexicon()
    edges = []
    for cands in lex.canon_labels.values():
        ids = sorted(set(cands.values()))
        edges += [(ids[0], other) for other in ids[1:]]
    for syn, label in lex.synonyms.items():
        rid = lex.standard_resource_labels.get(label)
        syn_rid = lex.standard_resource_labels.get(syn)
        if rid and syn_rid and rid != syn_rid:
            edges.append((min(rid, syn_rid), max(rid, syn_rid)))

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict = {}
    for node in list(parent):
        comp[node] = find(node)
    return [{"obj": OBO_PREFIX + n.upper(),
             "canon_obj": OBO_PREFIX + c.upper()}
            for n, c in sorted(comp.items())]


def main():
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(OUT_DIR, exist_ok=True)
    docs = _load_docs()
    print(f"corpus: {len(docs)} docs from {SF_DIR}")

    ref_rows = build_ref_rows(docs)
    pq.write_table(pa.Table.from_pylist(ref_rows, schema=pa.schema([
        ("url", pa.string()), ("macro_status", pa.string()),
        ("components", pa.list_(pa.string())),
        ("micro_status", pa.list_(pa.string())),
        ("labels", pa.list_(pa.string())),
    ])), os.path.join(OUT_DIR, "ref_rows.parquet"))
    n_match = sum(1 for r in ref_rows if r["macro_status"] != "No Match")
    print(f"ref_rows.parquet: {len(ref_rows)} rows, {n_match} matched")

    conf = build_confidence(docs)
    pq.write_table(pa.Table.from_pylist(conf, schema=pa.schema([
        ("url", pa.string()), ("macro_status", pa.string()),
        ("confidence_level", pa.string()),
        ("confidence_score", pa.float64()),
    ])), os.path.join(OUT_DIR, "confidence.parquet"))
    print(f"confidence.parquet: {len(conf)} rows")

    canon = build_canon_map()
    pq.write_table(pa.Table.from_pylist(canon, schema=pa.schema([
        ("obj", pa.string()), ("canon_obj", pa.string()),
    ])), os.path.join(OUT_DIR, "canon_map.parquet"))
    print(f"canon_map.parquet: {len(canon)} mappings")


if __name__ == "__main__":
    main()
