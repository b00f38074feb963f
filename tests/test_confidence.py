"""C7/C8 parity: confidence scoring + head-noun extraction.

Differential against the reference's OWN dormant functions
(``/root/reference/lexmapr/pipeline_helpers.py:577-703``), imported
unmodified via the same dep-injection harness the classification
differential uses. The POS tagger is injected into BOTH sides (the
NLTK perceptron model is unavailable — see
``lexmapr_spark/confidence.py`` docstring, deviation 1), so the
comparison pins the surrounding logic byte-for-byte.
"""

import pytest
from pyspark.sql import functions as F

from lexmapr_spark import confidence as C
from lexmapr_spark import engine
from tests.ref_classification_loader import load_reference_modules


@pytest.fixture(scope="module")
def ref_helpers():
    _, helpers = load_reference_modules()
    return helpers


@pytest.fixture(scope="module")
def penalty_dict():
    return C.load_penalty_dict()


def test_penalty_dict_matches_reference_csv(penalty_dict):
    # same file, same loader semantics (header skipped, lowercased)
    import csv
    expected = {}
    with open("/root/reference/lexmapr/predefined_resources/"
              "confidence_weight_penalty.csv") as fp:
        next(fp)
        for row in csv.reader(fp):
            expected[row[0].strip().lower()] = row[1].strip().lower()
    assert penalty_dict == expected
    assert penalty_dict["a direct match"] == "0"


MICRO_CASES = [
    [],
    ["A Direct Match"],
    ["Used Cleaned Sample", "A Direct Match"],
    ["Inflection (Plural) Treatment", "Synonym Usage"],
    ["Spelling Correction Treatment: chiken -> chicken"],
    ["Suffix Addition", "Permutation of Tokens in Resource Term"],
    ["Abbreviation-Acronym Treatment: bbq",
     "Non English Language Words Treatment: foie gras"],
    # one rule string hitting MULTIPLE dict keys must double-count
    ["Used Cleaned Sample and Suffix Addition and Synonym Usage"],
    ["{chicken breast: ['A Direct Match']}"],
    ["unrelated rule text"],
]


@pytest.mark.parametrize("micro", MICRO_CASES)
def test_penalty_weight_differential(ref_helpers, penalty_dict, micro):
    ours = C.calculate_penalty_weight(micro, penalty_dict)
    theirs = ref_helpers.calculate_penalty_weight(micro, penalty_dict)
    assert ours == theirs


@pytest.mark.parametrize("score", [
    -13.0, 0, 0.0, 59.0, 59.5, 60.0, 69.0, 70.0, 79.0, 80.0,
    89.0, 89.5, 90.0, 95.0, 100.0])
def test_decode_level_differential(ref_helpers, score):
    assert C.decode_confidence_level(score) == \
        ref_helpers.decode_confidence_level(score)


ASSIGN_CASES = [
    # (sample_tokens, match_status, micro_status, covered, head_nouns)
    (["chicken", "breast"], "Full Term Match", ["A Direct Match"],
     set(), []),
    (["chicken", "breast"], "Full Term Match",
     ["Used Cleaned Sample", "A Direct Match"], set(), []),
    (["raw", "chicken", "breast"], "Component Match",
     ["{chicken breast: ['A Direct Match']}"],
     {"chicken", "breast"}, ["chicken", "breast", "raw"]),
    (["frozen", "wild", "salmon", "fillet"], "Component Match",
     ["Synonym Usage"], {"salmon"}, ["salmon", "fillet"]),
    # empty covered set: str(set()) == "set()" quirk — the token
    # "set" counts as covered
    (["set", "menu", "item"], "Component Match", [], set(),
     ["menu", "set"]),
    # "'s"-style quote-boundary substring quirk
    (["'s", "sauce"], "Component Match", [], {"sauce"}, ["sauce"]),
    ([], "No Match", [], set(), []),
    (["anything"], "No Match", ["Used Cleaned Sample"], set(), []),
]


@pytest.mark.parametrize("tokens,status,micro,covered,hn", ASSIGN_CASES)
def test_assign_confidence_differential(ref_helpers, penalty_dict,
                                        tokens, status, micro,
                                        covered, hn):
    # the SAME set object goes to both sides so str(set) is identical
    ours = C.assign_confidence_level(tokens, status, micro,
                                     penalty_dict, covered, hn)
    theirs = ref_helpers.assign_confidence_level(tokens, status, micro,
                                                 penalty_dict, covered, hn)
    assert ours == theirs


HEAD_NOUN_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "organic chicken breast with garlic sauce",
    "she was quickly running towards beautiful mountains",
    "3 samples of frozen fish fillet",
    "",
    "don't touch the chef's special soup",
]


@pytest.mark.parametrize("text", HEAD_NOUN_TEXTS)
def test_get_head_noun_differential_injected_tagger(ref_helpers, text):
    # inject OUR deterministic tagger into the reference module so
    # both sides tag identically; what's compared is the reference's
    # tokenize -> filter-NN logic vs ours
    orig = ref_helpers.pos_tag
    try:
        ref_helpers.pos_tag = C.rule_pos_tag
        theirs = ref_helpers.get_head_noun(text)
    finally:
        ref_helpers.pos_tag = orig
    assert C.get_head_noun(text) == theirs


def test_rule_tagger_basics():
    tags = dict(C.rule_pos_tag(
        ["the", "chicken", "quickly", "running", "3", "beautiful"]))
    assert tags["chicken"] == "NN"
    assert tags["the"] != "NN" and tags["quickly"] == "RB"
    assert tags["running"] == "VBG" and tags["3"] == "CD"


# ---------------------------------------------------------------------------
# Spark column implementation vs the pure functions
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    s = engine.build_spark(cpus=4, app="confidence_tests",
                           shuffle_partitions=8)
    yield s
    s.stop()


def test_confidence_cols_match_pure_python(spark, penalty_dict):
    rows = [(list(t), s, list(m), sorted(cv), list(h))
            for t, s, m, cv, h in ASSIGN_CASES]
    df = spark.createDataFrame(
        rows,
        "sample_tokens ARRAY<STRING>, macro_status STRING, "
        "micro_status ARRAY<STRING>, covered_tokens ARRAY<STRING>, "
        "head_nouns ARRAY<STRING>")
    got = [r.confidence for r in
           C.score_confidence(df, "head_nouns", penalty_dict).collect()]
    want = [C.assign_confidence_level(t, s, m, penalty_dict, set(cv), h)
            for t, s, m, cv, h in ASSIGN_CASES]
    assert got == want


def test_with_confidence_end_to_end(spark, penalty_dict):
    from lexmapr_spark.matcher import process_sample
    lex_bc = engine.broadcast_lexicon(spark)
    rows = [("u1", "chicken breast"),
            ("u2", "raw chicken breast with extra garlic sauce"),
            ("u3", "completely unmatchable gibberish zzqqy"),
            ("u4", "")]
    pages = spark.createDataFrame(rows, "url STRING, text STRING")
    m = engine.annotate(pages, lex_bc, confidence=True)
    out = {r.url: r for r in C.with_confidence(m).collect()}
    assert set(out) == {"u1", "u2", "u3", "u4"}
    lex = lex_bc.value
    for url, text in rows:
        r = out[url]
        res = process_sample(url, text, lex)
        expected = C.assign_confidence_level(
            res.sample_tokens, res.macro_status, res.micro_status,
            penalty_dict, set(res.covered_tokens),
            C.get_head_noun(r.processed_sample))
        assert r.confidence == expected, url
    # matched rows score, unmatched rows are pinned to the int-format
    # "Low (0%)" No-Match rendering
    assert out["u1"].confidence_score > 0
    assert out["u3"].confidence == "Low (0%)"


def test_with_confidence_stages_hofs_once(spark):
    """The interpreted penalty fold and not-covered scans must appear
    exactly once in the optimized plan — HOF lambdas have no
    common-subexpression elimination, so an inlined copy re-runs per
    reference (the round-6 weak: the rendered ``confidence`` embedded
    the whole score expression, evaluating the fold ~10x per row)."""
    import re
    lex_bc = engine.broadcast_lexicon(spark)
    pages = spark.createDataFrame(
        [("u1", "chicken breast"), ("u2", "zzqqy")],
        "url STRING, text STRING")
    out = C.with_confidence(engine.annotate(pages, lex_bc,
                                            confidence=True))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # one penalty fold; three element-membership scans (nc_hn: 1,
    # nc: 2) — each staged as a real attribute, never duplicated
    assert len(re.findall(r"aggregate\(", plan)) == 1, plan
    assert len(re.findall(r"exists\(", plan)) == 3, plan
    # confidence must be rendered from the staged attribute, not a
    # fresh copy of the score expression
    assert re.search(r"AS confidence_score#\d+", plan)


def test_with_confidence_rejects_staging_name_collision(spark):
    # withColumn would silently overwrite (then drop) a user column
    # named like an internal staging attribute — must raise instead
    lex_bc = engine.broadcast_lexicon(spark)
    pages = spark.createDataFrame(
        [("u1", "chicken breast")], "url STRING, text STRING")
    m = engine.annotate(pages, lex_bc, confidence=True) \
        .withColumn("_penalty", F.lit("user data"))
    with pytest.raises(ValueError, match="staging"):
        C.with_confidence(m)


def test_annotate_default_schema_unchanged(spark):
    lex_bc = engine.broadcast_lexicon(spark)
    pages = spark.createDataFrame([("u", "x")], "url STRING, text STRING")
    cols = engine.annotate(pages, lex_bc).columns
    assert "sample_tokens" not in cols and "covered_tokens" not in cols


# ---------------------------------------------------------------------------
# property-based differential (hypothesis): arbitrary inputs through
# our pure functions vs the reference's own dormant code
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_WORDS = ["chicken", "breast", "set", "'s", "raw", "frozen", "a", "(",
          "salt", "menu", "sample", "x", "sets", "et", "'", "item"]
_token = st.sampled_from(_WORDS)
_tokens = st.lists(_token, max_size=6)
_status = st.sampled_from([
    "Full Term Match", "Component Match", "No Match",
    "Component Match:Scientific Name", "Full Term Match:Synonym"])
_micro = st.lists(st.sampled_from([
    "A Direct Match", "Used Cleaned Sample", "Synonym Usage",
    "Suffix Addition", "Spelling Correction Treatment: x -> y",
    "Inflection (Plural) Treatment", "Permutation of Tokens in Resource Term",
    "Abbreviation-Acronym Treatment: z", "{chicken: ['A Direct Match']}",
    "Used Cleaned Sample and Suffix Addition"]), max_size=4)


@settings(max_examples=300, deadline=None)
@given(_tokens, _status, _micro, st.sets(_token, max_size=4),
       st.lists(_token, max_size=4))
def test_assign_confidence_property_differential(ref_helpers, penalty_dict,
                                                 tokens, status, micro,
                                                 covered, hn):
    # same set OBJECT to both sides -> identical str(set) serialization
    assert C.assign_confidence_level(
        tokens, status, micro, penalty_dict, covered, hn) == \
        ref_helpers.assign_confidence_level(
            tokens, status, micro, penalty_dict, covered, hn)


@settings(max_examples=200, deadline=None)
@given(st.lists(_token, max_size=8).map(" ".join))
def test_get_head_noun_property_differential(ref_helpers, text):
    orig = ref_helpers.pos_tag
    try:
        ref_helpers.pos_tag = C.rule_pos_tag
        theirs = ref_helpers.get_head_noun(text)
    finally:
        ref_helpers.pos_tag = orig
    assert C.get_head_noun(text) == theirs
