"""Regression tests for the round-1 code-review findings."""

import pytest

from lexmapr_spark import textops as t
from lexmapr_spark.lexicon import (
    Lexicon,
    compute_ancestor_closure,
    term_parent_hierarchies,
)
from lexmapr_spark.matcher import process_sample


def test_tokenizer_splits_apostrophe_free_contractions():
    # 'cannot' is plain lowercase-alnum but MUST split (nltk parity);
    # the fast path may not swallow it
    assert t.word_tokenize("chicken cannot fly") == \
        ["chicken", "can", "not", "fly"]
    assert t.word_tokenize("gonna eat") == ["gon", "na", "eat"]


def test_detokenizer_rejoins_contractions():
    # the reference detokenizer re-joins MacIntyre contraction pairs
    assert t.treebank_detokenize(["can", "not"]) == "cannot"
    assert t.treebank_detokenize(["gim", "me"]) == "gimme"
    # plain fast path still intact
    assert t.treebank_detokenize(["chicken", "breast"]) == "chicken breast"


def test_ancestor_closure_replicates_reference_break_quirk():
    # reference get_term_parent_hierarchies breaks the WHOLE expansion
    # once any hierarchy tip is bfo_0000001, leaving later hierarchies
    # unexpanded — their partial contents still count as ancestors,
    # but deeper nodes (w) must NOT
    parents = {"t": ["x", "y"], "x": ["bfo_0000001"], "y": ["z"],
               "z": ["w"]}
    hierarchies = term_parent_hierarchies("t", parents)
    assert sorted(hierarchies) == [["t", "x", "bfo_0000001"], ["t", "y", "z"]]
    closure = compute_ancestor_closure(parents)
    assert closure["t"] == frozenset({"x", "bfo_0000001", "y", "z"})
    assert "w" not in closure["t"]


def test_matched_pairs_preserve_colon_label_ids():
    # display standardization destroys IDs for labels containing ':'
    # (reference quirk); matched_pairs must carry the true ID
    lex = Lexicon()
    lex.non_standard_resource_ids["ncbitaxon_244319"] = \
        "escherichia coli o26:h11"
    lex.standard_resource_labels["escherichia coli o26 h11"] = \
        "ncbitaxon_244319"
    lex.finalize()
    r = process_sample("u", "Escherichia coli O26:H11", lex)
    assert r.macro_status == "Full Term Match"
    # the quirky display form (split(':')[1] uppercases a label part)
    assert r.matched_components == ["escherichia coli o26:H11"]
    # the KG path sees the real ID
    assert r.matched_pairs == [("escherichia coli o26:h11",
                                "NCBITAXON_244319")]


def test_token_memo_tied_to_lexicon_instance():
    lex1 = Lexicon()
    lex1.abbreviations = {"csf": "cerebrospinal fluid"}
    r1 = process_sample("u", "csf", lex1)
    assert r1.processed_sample == "cerebrospinal fluid"
    lex2 = Lexicon()  # no abbreviations: must NOT see lex1's memo
    r2 = process_sample("u", "csf", lex2)
    assert r2.processed_sample == "csf"


def test_connected_components_strict_raises_on_cap():
    from lexmapr_spark import engine
    spark = engine.build_spark(cpus=2, app="cc_strict", shuffle_partitions=4)
    try:
        chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
        edges = spark.createDataFrame(chain, "src STRING, dst STRING")
        with pytest.raises(RuntimeError):
            engine.connected_components(edges, max_iter=2)
        comps = engine.connected_components(edges, max_iter=10)
        assert len({r.component for r in comps.collect()}) == 1
    finally:
        spark.stop()
