"""Confidence scoring (C7) and head-noun extraction (C8).

Parity surface: ``lexmapr/pipeline_helpers.py:577-703`` — the four
"for future use" helpers (``get_head_noun``,
``calculate_penalty_weight``, ``decode_confidence_level``,
``assign_confidence_level``) plus the dormant
``predefined_resources/confidence_weight_penalty.csv`` table. The
reference pipeline never calls them (zero call sites, zero tests), so
they have no golden output; parity here is pinned by a differential
test that imports the reference's own functions and compares
(``tests/test_confidence.py``).

Two deliberate, documented deviations:

1. **POS tagging** (``get_head_noun`` only). The reference uses
   NLTK's ``pos_tag`` — a trained averaged-perceptron model whose
   weights are not available in this environment and whose output is
   not reproducible from first principles. ``get_head_noun`` therefore
   takes an injectable ``tagger``; the default is a deterministic
   rule-based tagger (closed-class word list + suffix rules) vendored
   below. The differential test injects the SAME tagger into the
   reference's module, proving the surrounding logic
   (tokenize -> keep ``pos[:2] == 'NN'``) is byte-faithful while the
   tagger stays pluggable for users who ship the NLTK model.

2. **``str(set)`` membership serialization** (Spark path only). The
   reference tests token coverage with ``token not in str(a_set)`` —
   substring search against the *repr of a Python set*
   (``pipeline_helpers.py:684-689``), whose element order is
   process-dependent. The pure-Python functions here replicate that
   call verbatim. The distributed column implementation replicates it
   with an order-independent equivalent: a (space-free) token is a
   substring of ``str({'a', 'b'})`` iff it is a substring of
   ``"'" + elem + "'"`` for some element — quote boundaries included,
   so quirks like ``"'s"`` matching any element that starts with
   ``s`` are preserved — or, for the empty set, a substring of the
   literal ``"set()"`` (so ``"set"`` counts as covered when nothing
   is covered; yes, really — that is what the reference computes).
   The only divergence is tokens containing ``{``/``}``/space, which
   the upstream tokenizer never emits.

Spark-first split: POS tagging is the only genuinely-Python step and
runs in one Arrow-vectorized ``pandas_udf``; every set operation,
penalty fold, and the final score/level are Catalyst expressions
(``aggregate`` / ``filter`` / ``exists`` / ``array_distinct``), so
the scoring itself is JVM-side, whole-stage-codegen'd, and
shuffle-free — it survives any scale the mention table does.
"""

from __future__ import annotations

import re
from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lexmapr_spark.lexicon import get_resource_dict
from lexmapr_spark.textops import word_tokenize

# ---------------------------------------------------------------------------
# Penalty table (confidence_weight_penalty.csv — dormant reference data)
# ---------------------------------------------------------------------------


def load_penalty_dict() -> dict[str, str]:
    """rule-substring (lowercased) -> penalty weight (string).

    The reference would load this via ``get_resource_dict``
    (``pipeline_resources.py:251-286``: header skipped, key and value
    lowercased), the same loader used for every other resource CSV.
    """
    return get_resource_dict("confidence_weight_penalty.csv")


# ---------------------------------------------------------------------------
# Pure functions — exact reference semantics (pipeline_helpers.py:596-703)
# ---------------------------------------------------------------------------


def calculate_penalty_weight(micro_status: Iterable,
                             confidence_weight_penalty_dict: dict) -> float:
    """Total penalty for the rules applied to a sample.

    Parity: ``pipeline_helpers.py:596-622`` — every dict key that is a
    substring of the lowercased rule string adds its penalty (no
    break: multiple keys can fire on one rule entry).
    """
    total_penalty_weight = 0.0
    for applied_rule in micro_status:
        applied_rule_string = str(applied_rule).lower()
        for key, value in confidence_weight_penalty_dict.items():
            if key in applied_rule_string:
                total_penalty_weight = total_penalty_weight + int(value)
    return total_penalty_weight


def decode_confidence_level(confidence_score: float) -> str:
    """Score -> level label. Parity: ``pipeline_helpers.py:624-648``."""
    if confidence_score > 89.0:
        return "Highest"
    elif confidence_score > 79.0:
        return "High"
    elif confidence_score > 69.0:
        return "Moderately High"
    elif confidence_score > 59.0:
        return "Medium"
    return "Low"


def assign_confidence_level(sample_tokens, match_status, micro_status,
                            confidence_weight_penalty_dict,
                            sample_covered_tokens, head_nouns) -> str:
    """``"<level> (<score>%)"`` for one term mapping.

    Parity: ``pipeline_helpers.py:650-703`` — including the
    ``token not in str(a_set)`` substring-of-repr membership tests and
    the int-vs-float score formatting (``"Low (0%)"`` for No Match but
    ``"Highest (100.0)%"``-style floats elsewhere, because the penalty
    accumulator starts at ``0.0``).
    """
    confidence_score: float | int = 0
    total_penalty_weight = calculate_penalty_weight(
        micro_status, confidence_weight_penalty_dict)
    if "Full Term Match" in match_status:
        confidence_score = 100
        confidence_score = confidence_score - total_penalty_weight
    elif "Component Match" in match_status:
        confidence_score = 90
        not_covered_tokens = set()
        not_covered_head_nouns = set()
        for token in head_nouns:
            if token not in str(sample_covered_tokens):
                not_covered_head_nouns.add(token)
        for token in sample_tokens:
            if token not in str(sample_covered_tokens) and token \
                    not in str(not_covered_head_nouns):
                not_covered_tokens.add(token)
        component_penalty_weight = len(not_covered_tokens) * 6
        head_nouns_penalty_weight = len(not_covered_head_nouns) * 10
        confidence_score = confidence_score - total_penalty_weight \
            - component_penalty_weight - head_nouns_penalty_weight
    elif "No Match" in match_status:
        confidence_score = 0

    confidence_level = decode_confidence_level(confidence_score)
    return confidence_level + " (" + str(confidence_score) + "%)"


# ---------------------------------------------------------------------------
# Deterministic rule-based POS tagger (vendored pos_tag substitute)
# ---------------------------------------------------------------------------

# Closed-class / high-frequency non-noun words. Deliberately small and
# frozen: the goal is a deterministic, documented stand-in, not a
# faithful Penn-Treebank tagger (see module docstring, deviation 1).
_NON_NOUN_WORDS = frozenset("""
a an the this that these those some any no each every either neither
and or but nor so yet if while because although though since unless
until when whenever where wherever after before as than whether
of in on at by for with from to into onto over under above below
between among through during against about across behind beyond near
i you he she it we they me him her us them my your his its our their
mine yours hers ours theirs myself yourself himself herself itself
who whom whose which what
is am are was were be been being do does did done doing have has had
having will would shall should can could may might must
not never also very too quite rather just only even still almost
here there now then once again always often sometimes usually
""".split())

_TAG_SUFFIX_RULES: tuple[tuple[str, str], ...] = (
    ("ly", "RB"),
    ("ing", "VBG"),
    ("ed", "VBD"),
    ("ous", "JJ"),
    ("ful", "JJ"),
    ("ive", "JJ"),
    ("ible", "JJ"),
    ("able", "JJ"),
    ("est", "JJS"),
)

_NUMBER_RE = re.compile(r"^\d+([.,/:-]\d+)*$")
_HAS_ALPHA_RE = re.compile(r"[a-zA-Z]")


def _tag_one(token: str) -> str:
    low = token.lower()
    if not _HAS_ALPHA_RE.search(token):
        return "CD" if _NUMBER_RE.match(token) else "."
    if low in _NON_NOUN_WORDS:
        return "IN"
    for suffix, tag in _TAG_SUFFIX_RULES:
        if len(low) > len(suffix) + 2 and low.endswith(suffix):
            return tag
    return "NN"


def rule_pos_tag(tokens: list[str]) -> list[tuple[str, str]]:
    """Deterministic ``pos_tag`` stand-in: ``[(token, tag), ...]``.

    Everything alphabetic defaults to ``NN`` unless it is a
    closed-class word or carries an adverb/verb/adjective suffix —
    a recall-leaning heuristic, appropriate because downstream only
    asks "is this a noun".
    """
    return [(t, _tag_one(t)) for t in tokens]


def get_head_noun(text_segment: str,
                  tagger: Callable[[list[str]],
                                   list[tuple[str, str]]] | None = None
                  ) -> list[str]:
    """Nouns in a text segment. Parity: ``pipeline_helpers.py:577-593``
    with the tagger injected (module docstring, deviation 1).
    """
    def is_noun(pos: str) -> bool:
        return pos[:2] == "NN"
    tagger = tagger or rule_pos_tag
    tokenized_text = word_tokenize(text_segment)
    return [word for (word, pos) in tagger(tokenized_text) if is_noun(pos)]


# ---------------------------------------------------------------------------
# Distributed column implementation (Catalyst expressions, no shuffle)
# ---------------------------------------------------------------------------


def penalty_weight_col(micro_status: Column | str,
                       penalty_dict: dict[str, str] | None = None) -> Column:
    """JVM fold of ``calculate_penalty_weight`` over a rule array.

    One ``aggregate`` over the micro_status array; each element adds
    the penalties of every dict key contained in its lowercased text.
    Whole-stage-codegen'd — no Python in the loop.
    """
    penalty_dict = penalty_dict if penalty_dict is not None \
        else load_penalty_dict()

    def per_rule(s: Column) -> Column:
        low = F.lower(s)
        acc = F.lit(0.0)
        for key, value in penalty_dict.items():
            acc = acc + F.when(low.contains(key),
                               F.lit(float(int(value)))).otherwise(0.0)
        return acc

    return F.aggregate(micro_status, F.lit(0.0),
                       lambda a, s: a + per_rule(s))


def confidence_level_col(score: Column) -> Column:
    """JVM ``decode_confidence_level``."""
    return (F.when(score > 89.0, "Highest")
             .when(score > 79.0, "High")
             .when(score > 69.0, "Moderately High")
             .when(score > 59.0, "Medium")
             .otherwise("Low"))


def _in_set_repr(token: Column, elems: Column) -> Column:
    """``token in str(set(elems))`` — order-independent replication.

    See module docstring, deviation 2: substring of ``"'elem'"`` for
    any element, or of the literal ``"set()"`` when empty.
    """
    return F.when(
        F.size(elems) == 0, F.instr(F.lit("set()"), token) > 0
    ).otherwise(
        F.exists(elems,
                 lambda e: F.instr(F.concat(F.lit("'"), e, F.lit("'")),
                                   token) > 0))


def not_covered_hn_col(head_nouns: Column, covered_tokens: Column) -> Column:
    """Distinct head nouns absent from the covered-token set repr."""
    return F.array_distinct(
        F.filter(head_nouns, lambda t: ~_in_set_repr(t, covered_tokens)))


def not_covered_col(sample_tokens: Column, covered_tokens: Column,
                    not_covered_hn: Column) -> Column:
    """Distinct sample tokens covered by neither the covered-token set
    repr nor the not-covered head nouns (the reference double-counts
    head nouns out of this bucket)."""
    return F.array_distinct(
        F.filter(sample_tokens,
                 lambda t: ~_in_set_repr(t, covered_tokens)
                 & ~_in_set_repr(t, not_covered_hn)))


def confidence_score_col(match_status: Column, penalty: Column,
                         not_covered: Column,
                         not_covered_hn: Column) -> Column:
    """The reference's ``assign_confidence_level`` arithmetic — the
    SINGLE definition of the 100/90/-6/-10 scoring contract, staged
    by :func:`score_confidence`."""
    return (
        F.when(match_status.contains("Full Term Match"),
               F.lit(100.0) - penalty)
         .when(match_status.contains("Component Match"),
               F.lit(90.0) - penalty
               - F.size(not_covered) * 6.0
               - F.size(not_covered_hn) * 10.0)
         .otherwise(F.lit(0.0)))


def rendered_confidence_col(match_status: Column, score: Column) -> Column:
    """The reference's confidence string, including the ``"Low (0%)"``
    int-format quirk for No Match vs ``"...(90.0%)"`` elsewhere —
    single definition, same rationale as
    :func:`confidence_score_col`."""
    return F.when(
        match_status.contains("Full Term Match")
        | match_status.contains("Component Match"),
        F.format_string("%s (%.1f%%)", confidence_level_col(score), score)
    ).otherwise(F.lit("Low (0%)"))


def head_nouns_col(text: Column | str) -> Column:
    """Arrow-vectorized ``get_head_noun`` (the only Python step).

    Web corpora repeat processed text heavily (boilerplate, mirrored
    pages), and head nouns are a pure function of the text — so the
    tagger runs once per distinct text per partition. The memo lives
    in the UDF closure (persists across Arrow batches within a task)
    and is cleared past 200k entries so a giant partition can't hoard
    worker memory — same contract as ``annotate``'s duplicate-text
    memo (engine.py).
    """
    memo: dict = {}

    def _one(t):
        if t is None:
            t = ""
        r = memo.get(t)
        if r is None:
            if len(memo) > 200_000:
                memo.clear()
            r = memo[t] = get_head_noun(t)
        return r

    @F.pandas_udf("array<string>")
    def _hn(s: pd.Series) -> pd.Series:
        return s.map(_one)

    return _hn(F.col(text) if isinstance(text, str) else text)


def score_confidence(frame: DataFrame, head_nouns: Column | str,
                     penalty_dict: dict[str, str] | None = None
                     ) -> DataFrame:
    """Frame -> + ``confidence_score`` + ``confidence`` — pure Catalyst.

    The exact arithmetic of ``assign_confidence_level`` over the
    ``sample_tokens`` / ``macro_status`` / ``micro_status`` /
    ``covered_tokens`` columns and the ``head_nouns`` array: penalty
    fold + distinct-not-covered counts for the Component Match
    branch, composed from the single-definition builders above.

    The interpreted HOFs (the penalty ``aggregate`` fold and the
    not-covered ``filter``/``exists`` scans) are staged as real
    attribute columns before anything references them: HOF lambdas
    run interpreted with no common-subexpression elimination, so
    embedding ``score`` inside the rendered string would re-evaluate
    the fold ~10x per row (once per ``confidence_level_col`` branch).
    CollapseProject keeps non-cheap multi-referenced aliases split,
    so each staged expression is evaluated exactly once per row.
    """
    # staging names are created via withColumn, which silently
    # OVERWRITES an existing column of the same name and would then
    # drop it — reject colliding inputs instead (r7 ADVICE)
    staged = ["_head_nouns", "_penalty", "_nc_hn", "_nc"]
    clash = sorted(set(staged) & set(frame.columns))
    if clash:
        raise ValueError(
            f"score_confidence: input columns {clash} collide with "
            "internal staging names; rename before calling")
    head_nouns = F.col(head_nouns) if isinstance(head_nouns, str) \
        else head_nouns
    macro = F.col("macro_status")
    nc_hn = not_covered_hn_col(F.col("_head_nouns"),
                               F.col("covered_tokens"))
    nc = not_covered_col(F.col("sample_tokens"), F.col("covered_tokens"),
                         F.col("_nc_hn"))
    score = confidence_score_col(macro, F.col("_penalty"), F.col("_nc"),
                                 F.col("_nc_hn"))
    rendered = rendered_confidence_col(macro, F.col("confidence_score"))
    return (frame
            .withColumn("_head_nouns", head_nouns)
            .withColumn("_penalty",
                        penalty_weight_col("micro_status", penalty_dict))
            .withColumn("_nc_hn", nc_hn)
            .withColumn("_nc", nc)
            .withColumn("confidence_score", score)
            .withColumn("confidence", rendered)
            .drop(*staged))


def with_confidence(mentions: DataFrame,
                    penalty_dict: dict[str, str] | None = None,
                    text_col: str = "processed_sample") -> DataFrame:
    """Mention table -> + ``confidence_score`` + ``confidence``.

    Expects the opt-in ``sample_tokens`` / ``covered_tokens`` columns
    from ``engine.annotate(..., confidence=True)``. Head nouns come
    from one pandas_udf over ``text_col``; everything downstream is
    :func:`score_confidence`'s JVM expressions — the op adds no
    shuffle and no extra scan.
    """
    from lexmapr_spark.engine import ship_package
    ship_package(mentions.sparkSession)
    return score_confidence(mentions, head_nouns_col(text_col),
                            penalty_dict)
