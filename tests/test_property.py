"""Property-based tests (hypothesis).

The crown jewel: ``_match_chunk_any_permutation`` (canonical O(1)
guards + bounded enumeration) must be EXACTLY equivalent to the
reference's brute-force per-permutation loop (``pipeline.py:208-220``)
for every chunk — including which match wins and its status list.
"""

from collections import OrderedDict
from itertools import combinations, permutations

from hypothesis import given, settings
from hypothesis import strategies as st

from lexmapr_spark.lexicon import canonical_key, default_lexicon
from lexmapr_spark.matcher import (
    _match_chunk_any_permutation,
    _spelled_chunks,
    map_term,
    process_sample,
)

LEX = default_lexicon()

# token pool: in-vocabulary tokens (drawn from real lexicon keys) mixed
# with out-of-vocabulary noise — the mix that exercises every guard
_VOCAB_SAMPLE = sorted(LEX.vocab)[::max(1, len(LEX.vocab) // 400)][:400]
_NOISE = ["zzq", "qqz", "blorp", "x9y", "snark"]
token_strategy = st.sampled_from(_VOCAB_SAMPLE + _NOISE)
chunk_strategy = st.lists(token_strategy, min_size=1, max_size=4)


def reference_match_chunk(chunk_tokens, lex):
    """Literal transcription of the reference's permutation loop:
    for each permutation, map_term then map_term(consider_suffixes);
    first hit wins."""
    for perm in OrderedDict.fromkeys(permutations(chunk_tokens)):
        s = " ".join(perm)
        mapping = map_term(s, lex)
        if not mapping:
            mapping = map_term(s, lex, consider_suffixes=True)
        if mapping:
            return mapping
    return None


@settings(max_examples=300, deadline=None)
@given(chunk_strategy)
def test_canonical_matcher_equals_reference_bruteforce(chunk):
    fast = _match_chunk_any_permutation(tuple(chunk), LEX)
    slow = reference_match_chunk(tuple(chunk), LEX)
    assert fast == slow


# the four maps a component chunk is probed against
_CANON_MAPS = (LEX.canon_labels, LEX.canon_perms, LEX.canon_syns,
               LEX.suffix_bases)
# multi-token keys, so drawn samples spell more than single tokens
_KEY_TOKENS = [k.split() for k in sorted(LEX.canon_labels)[::53]
               if 2 <= len(k.split()) <= 5]


@st.composite
def sample_token_lists(draw):
    """Under 15 tokens: vocabulary and noise tokens, whole keys, and
    repeats of any of them, in any order."""
    base = draw(st.lists(token_strategy, max_size=8))
    for key in draw(st.lists(st.sampled_from(_KEY_TOKENS), max_size=2)):
        base += key
    if base:
        base += draw(st.lists(st.sampled_from(base), max_size=4))
    return draw(st.permutations(base))[:14]


@settings(max_examples=300, deadline=None)
@given(sample_token_lists())
def test_spelled_chunks_are_the_hittable_combinations(tokens):
    """The component loop's chunks of each size are a subsequence of
    ``combinations(tokens, size)`` holding every combination whose
    canonical key is in one of the four maps."""
    spelled = _spelled_chunks(tokens, LEX)
    for size in range(1, 6):
        combos = list(combinations(tokens, size))
        rest = iter(combos)
        assert all(chunk in rest for chunk in spelled[size])
        hittable = [c for c in combos
                    if any(canonical_key(c) in m for m in _CANON_MAPS)]
        assert spelled[size] == hittable


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdefghij -_();/:%,.'0123456789", max_size=60))
def test_process_sample_total_and_deterministic(text):
    """Never crashes; pure function of its input."""
    a = process_sample("id", text, LEX)
    b = process_sample("id", text, LEX)
    assert a == b
    assert a.macro_status in ("No Match", "Full Term Match",
                              "Component Match")
    for comp in a.matched_components:
        label, _, tid = comp.rpartition(":")
        assert tid == tid.upper() and label


def unguarded_map_term(term, lex, consider_suffixes=False):
    """map_term without the canonical suffix-base guard — the literal
    reference control flow (pipeline_helpers.py:451-502)."""
    from lexmapr_spark.matcher import _map_term_helper
    if consider_suffixes:
        for suffix in lex.suffixes:
            mapping = _map_term_helper(term + " " + suffix, lex)
            if mapping:
                mapping["status"].insert(-2, "Suffix Addition")
                return mapping
    else:
        mapping = _map_term_helper(term, lex)
        if mapping:
            return mapping
    synonym = lex.synonyms.get(term)
    if synonym is not None:
        if consider_suffixes:
            for suffix in lex.suffixes:
                mapping = _map_term_helper(synonym + " " + suffix, lex)
                if mapping:
                    mapping["status"].insert(-2, "Suffix Addition")
                    mapping["status"].insert(-2, "Synonym Usage")
                    return mapping
        else:
            mapping = _map_term_helper(synonym, lex)
            if mapping:
                mapping["status"].insert(-2, "Synonym Usage")
                return mapping
    return None


@settings(max_examples=300, deadline=None)
@given(st.lists(token_strategy, min_size=1, max_size=3),
       st.booleans())
def test_guarded_map_term_equals_unguarded(tokens, suffixes):
    term = " ".join(tokens)
    assert map_term(term, LEX, consider_suffixes=suffixes) == \
        unguarded_map_term(term, LEX, consider_suffixes=suffixes)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sampled_from(_VOCAB_SAMPLE), min_size=1, max_size=8))
def test_jaccard_bounds_and_symmetry(tokens):
    """Token-set Jaccard used in dedup verification: bounded, and
    identical sets score exactly 1."""
    sa, sb = set(tokens), set(tokens)
    inter, union = len(sa & sb), len(sa | sb)
    assert inter / union == 1.0
    sc = set(tokens[: max(1, len(tokens) // 2)])
    j = len(sa & sc) / len(sa | sc)
    assert 0.0 < j <= 1.0
