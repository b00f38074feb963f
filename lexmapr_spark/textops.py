"""Deterministic, dependency-free scalar text operators.

These re-implement (from public algorithm descriptions — the Penn
Treebank tokenizer sed script, the Rails/`inflection` singularization
rule table) the scalar semantics the reference pipeline gets from
``nltk`` and ``inflection``, neither of which is installed here.
Behavior is pinned by the reference's golden end-to-end fixtures
(``lexmapr/tests/test_output/*.tsv``), transcribed into
``tests/golden/``.

Reference parity targets (file:line cites into /root/reference):
  - word_tokenize           lexmapr/pipeline.py:129 (nltk 3.8.1)
  - TreebankWordDetokenizer lexmapr/pipeline_helpers.py:163
  - inflection.singularize  lexmapr/pipeline_helpers.py:27 (0.3.1)
  - preprocess              lexmapr/pipeline_helpers.py:276-290
  - punctuation_treatment   lexmapr/pipeline_helpers.py:293-308
  - is_number / is_date     lexmapr/pipeline_helpers.py:198-231
"""

from __future__ import annotations

import re
import unicodedata

try:
    from dateutil.parser import parse as _dateutil_parse
except ImportError:  # pragma: no cover - dateutil is baked in
    _dateutil_parse = None


# ---------------------------------------------------------------------------
# Treebank-style word tokenizer (NLTK 3.8 ``word_tokenize`` semantics)
# ---------------------------------------------------------------------------

# Every rule below is (regexp, substitution, triggers): any match of the
# regexp contains one of the trigger literals, so on a text that holds
# none of them the sub is a no-op and _apply_rules skips it. The check
# reads the text as it stands at that rule, since earlier subs add the
# ``, '' and spaces that later rules match.
_STARTING_QUOTES = [
    (re.compile("([«“‘„]|[`]+)", re.U), r" \1 ", ("«", "“", "‘", "„", "`")),
    (re.compile(r"^\""), r"``", ('"',)),
    (re.compile(r"(``)"), r" \1 ", ("``",)),
    (re.compile(r"([ \(\[{<])(\"|\'{2})"), r"\1 `` ", ('"', "''")),
    (re.compile(r"(?i)(\')(?!re|ve|ll|m|t|s|d|n)(\w)\b", re.U), r"\1 \2",
     ("'",)),
]

_PUNCTUATION = [
    (re.compile(r"([»”’])", re.U), r" \1 ", ("»", "”", "’")),
    (re.compile(r"([^\.])(\.)([\]\)}>\"\'»”’ ]*)\s*$", re.U), r"\1 \2 \3 ",
     (".",)),
    (re.compile(r"([:,])([^\d])"), r" \1 \2", (":", ",")),
    (re.compile(r"([:,])$"), r" \1 ", (":", ",")),
    (re.compile(r"\.{2,}", re.U), r" \g<0> ", ("..",)),
    (re.compile(r"[;@#$%&]"), r" \g<0> ", (";", "@", "#", "$", "%", "&")),
    (re.compile(r"[?!]"), r" \g<0> ", ("?", "!")),
    (re.compile(r"([^'])' "), r"\1 ' ", ("' ",)),
    (re.compile(r"[*]", re.U), r" \g<0> ", ("*",)),
]

_PARENS_BRACKETS = [
    (re.compile(r"[\]\[\(\)\{\}\<\>]"), r" \g<0> ",
     ("(", ")", "[", "]", "{", "}", "<", ">")),
]

_DOUBLE_DASHES = [(re.compile(r"--"), r" -- ", ("--",))]

_ENDING_QUOTES = [
    (re.compile("([»”’])", re.U), r" \1 ", ("»", "”", "’")),
    (re.compile(r"''"), " '' ", ("''",)),
    (re.compile(r'"'), " '' ", ('"',)),
    (re.compile(r"([^' ])('[sS]|'[mM]|'[dD]|') "), r"\1 \2 ", ("'",)),
    (re.compile(r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) "), r"\1 \2 ",
     ("'",)),
]


def _apply_rules(rules, text: str) -> str:
    for regexp, substitution, triggers in rules:
        for trigger in triggers:
            if trigger in text:
                text = regexp.sub(substitution, text)
                break
    return text


_CONTRACTIONS2 = [
    re.compile(r"(?i)\b(can)(?#X)(not)\b"),
    re.compile(r"(?i)\b(d)(?#X)('ye)\b"),
    re.compile(r"(?i)\b(gim)(?#X)(me)\b"),
    re.compile(r"(?i)\b(gon)(?#X)(na)\b"),
    re.compile(r"(?i)\b(got)(?#X)(ta)\b"),
    re.compile(r"(?i)\b(lem)(?#X)(me)\b"),
    re.compile(r"(?i)\b(more)(?#X)('n)\b"),
    re.compile(r"(?i)\b(wan)(?#X)(na)(?=\s)"),
]
_CONTRACTIONS3 = [
    re.compile(r"(?i) ('t)(?#X)(is)\b"),
    re.compile(r"(?i) ('t)(?#X)(was)\b"),
]
# "(?#X)" is a comment-group placeholder in the published MacIntyre
# contraction patterns; it matches the empty string, so the patterns
# work as-is for tokenization (the detokenizer swaps it for "\s").


def _may_contract(text: str, words) -> bool:
    """Whether any IGNORECASE contraction rule can match ``text``.

    Each match holds an apostrophe or, case-folded, one of ``words``.
    ``str.lower()`` is that folding only on ASCII text: ``re`` also
    matches ``İ ı ſ K`` to ``i i s k``, so non-ASCII text always runs
    the rules."""
    if "'" in text or not text.isascii():
        return True
    lower = text.lower()
    return any(word in lower for word in words)


# a string of plain lowercase-alnum tokens separated by single spaces
# tokenizes to its split() — every Treebank rule is a no-op on it,
# EXCEPT the apostrophe-free MacIntyre contractions, which must split
# (fullmatch: "$" would also pass a trailing "\n" into the last token)
_PLAIN_SENTENCE = re.compile(r"[a-z0-9]+( [a-z0-9]+)*")
_PLAIN_CONTRACTIONS = frozenset(
    ["cannot", "gimme", "gonna", "gotta", "lemme", "wanna"])


def _plain_tokens(text: str):
    """Fast-path token list, or None if any rule could fire."""
    if not _PLAIN_SENTENCE.fullmatch(text):
        return None
    tokens = text.split(" ")
    if _PLAIN_CONTRACTIONS.isdisjoint(tokens):
        return tokens
    return None


def treebank_tokenize(text: str) -> list[str]:
    """Tokenize one sentence, NLTKWordTokenizer (improved Treebank) style."""
    fast = _plain_tokens(text)
    if fast is not None:
        return fast
    text = _apply_rules(_STARTING_QUOTES, text)
    text = _apply_rules(_PUNCTUATION, text)
    text = _apply_rules(_PARENS_BRACKETS, text)
    text = _apply_rules(_DOUBLE_DASHES, text)

    text = " " + text + " "

    text = _apply_rules(_ENDING_QUOTES, text)

    if _may_contract(text, _PLAIN_CONTRACTIONS):
        for regexp in _CONTRACTIONS2:
            text = regexp.sub(r" \1 \2 ", text)
        for regexp in _CONTRACTIONS3:
            text = regexp.sub(r" \1 \2 ", text)

    return text.split()


_SENT_BOUNDARY = re.compile(r"(?<=[.!?])\s+")


def sent_tokenize(text: str) -> list[str]:
    """Cheap deterministic stand-in for the Punkt sentence splitter.

    Splits after sentence-final ``.``/``!``/``?`` followed by
    whitespace. Adequate for the short specimen descriptions the
    pipeline processes; pinned by the golden fixtures.
    """
    return [s for s in _SENT_BOUNDARY.split(text) if s]


def word_tokenize(text: str) -> list[str]:
    """nltk.word_tokenize equivalent: sentence split + Treebank."""
    fast = _plain_tokens(text)
    if fast is not None:
        return fast
    return [tok for sent in sent_tokenize(text) for tok in treebank_tokenize(sent)]


# ---------------------------------------------------------------------------
# Treebank detokenizer (used by remove_duplicate_tokens)
# ---------------------------------------------------------------------------

# (regexp, substitution, triggers), as for the tokenizer tables
_DETOK_ENDING_QUOTES = [
    (re.compile(r"([^' ])\s('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) "), r"\1\2 ",
     ("'",)),
    (re.compile(r"([^' ])\s('[sS]|'[mM]|'[dD]|') "), r"\1\2 ", ("'",)),
    (re.compile(r"(\S)\s(\'\')"), r"\1\2", ("''",)),
    (re.compile(r"(\'\')\s([.,:)\]>};%])"), r"\1\2", ("''",)),
    (re.compile(r"''"), '"', ("''",)),
]
_DETOK_DOUBLE_DASHES = [(re.compile(r" -- "), r"--", (" -- ",))]
_DETOK_PARENS_BRACKETS = [
    (re.compile(r"([\[\(\{\<])\s"), r"\g<1>", ("(", "[", "{", "<")),
    (re.compile(r"\s([\]\)\}\>])"), r"\g<1>", (")", "]", "}", ">")),
    (re.compile(r"([\]\)\}\>])\s([:;,.])"), r"\1\2", (")", "]", "}", ">")),
]
_DETOK_PUNCTUATION = [
    (re.compile(r"([^'])\s'\s"), r"\1' ", ("'",)),
    (re.compile(r"\s([?!])"), r"\g<1>", ("?", "!")),
    (re.compile(r'([^\.])\s(\.)([\]\)}>"\']*)\s*$'), r"\1\2\3", (".",)),
    (re.compile(r"([#$])\s"), r"\g<1>", ("#", "$")),
    (re.compile(r"\s([;%])"), r"\g<1>", (";", "%")),
    (re.compile(r"\s([:,])"), r"\1", (":", ",")),
]
_DETOK_STARTING_QUOTES = [
    (re.compile(r"([ (\[{<])\s``"), r"\1``", ("``",)),
    (re.compile(r"(``)\s"), r"\1", ("``",)),
    (re.compile(r"``"), r'"', ("``",)),
]


# detokenizer contraction patterns, precompiled once (NLTK rebuilds
# them per call via .pattern.replace — same regexes, order preserved:
# CONTRACTIONS3 first, then CONTRACTIONS2, as in its detokenize())
_DETOK_CONTRACTIONS = [
    re.compile(r.pattern.replace("(?#X)", r"\s"))
    for r in _CONTRACTIONS3 + _CONTRACTIONS2
]
# first words of the apostrophe-free MacIntyre contraction pairs that
# the detokenizer re-joins ("can not" -> "cannot", ...)
_CONTRACTION_HEADS = frozenset(["can", "gim", "gon", "got", "lem", "wan"])


def treebank_detokenize(tokens: list[str]) -> str:
    """TreebankWordDetokenizer.detokenize equivalent."""
    text = " ".join(tokens)
    if _plain_tokens(text) is not None and _CONTRACTION_HEADS.isdisjoint(tokens):
        # ("can not" re-joins to "cannot" below, so it can't fast-path)
        return text
    return _detokenize_slow(text)


import functools as _functools


@_functools.lru_cache(maxsize=65536)
def _detokenize_slow(text: str) -> str:
    # pure function of the joined text: cache it — a sample's tokens
    # are detokenized twice (plain + sci-name variants, usually equal)
    if _may_contract(text, _CONTRACTION_HEADS):
        for regexp in _DETOK_CONTRACTIONS:
            text = regexp.sub(r"\1\2", text)

    text = _apply_rules(_DETOK_ENDING_QUOTES, text)
    text = _apply_rules(_DETOK_DOUBLE_DASHES, text)
    text = _apply_rules(_DETOK_PARENS_BRACKETS, text)
    text = _apply_rules(_DETOK_PUNCTUATION, text)
    text = _apply_rules(_DETOK_STARTING_QUOTES, text)

    return text.strip()


# ---------------------------------------------------------------------------
# inflection.singularize (0.3.1 rule table, public Rails-derived rules)
# ---------------------------------------------------------------------------

_SINGULAR_RULES = [
    (re.compile(rule), repl)
    for rule, repl in [
        (r"(?i)(database)s$", r"\1"),
        (r"(?i)(quiz)zes$", r"\1"),
        (r"(?i)(matr)ices$", r"\1ix"),
        (r"(?i)(vert|ind)ices$", r"\1ex"),
        (r"(?i)^(ox)en", r"\1"),
        (r"(?i)(alias|status)(es)?$", r"\1"),
        (r"(?i)(octop|vir)(us|i)$", r"\1us"),
        (r"(?i)^(a)x[ie]s$", r"\1xis"),
        (r"(?i)(cris|test)(is|es)$", r"\1is"),
        (r"(?i)(shoe)s$", r"\1"),
        (r"(?i)(o)es$", r"\1"),
        (r"(?i)(bus)(es)?$", r"\1"),
        (r"(?i)(m|l)ice$", r"\1ouse"),
        (r"(?i)(x|ch|ss|sh)es$", r"\1"),
        (r"(?i)(m)ovies$", r"\1ovie"),
        (r"(?i)(s)eries$", r"\1eries"),
        (r"(?i)([^aeiouy]|qu)ies$", r"\1y"),
        (r"(?i)([lr])ves$", r"\1f"),
        (r"(?i)(tive)s$", r"\1"),
        (r"(?i)(hive)s$", r"\1"),
        (r"(?i)([^f])ves$", r"\1fe"),
        (r"(?i)(t)he(sis|ses)$", r"\1hesis"),
        (r"(?i)(s)ynop(sis|ses)$", r"\1ynopsis"),
        (r"(?i)(p)rogno(sis|ses)$", r"\1rognosis"),
        (r"(?i)(p)arenthe(sis|ses)$", r"\1arenthesis"),
        (r"(?i)(d)iagno(sis|ses)$", r"\1iagnosis"),
        (r"(?i)(b)a(sis|ses)$", r"\1asis"),
        (r"(?i)(analy)(sis|ses)$", r"\1sis"),
        (r"(?i)([ti])a$", r"\1um"),
        (r"(?i)(n)ews$", r"\1ews"),
        (r"(?i)(ss)$", r"\1"),
        (r"(?i)s$", r""),
    ]
]

_UNCOUNTABLES = [
    re.compile(r"(?i)\b(%s)\Z" % word)
    for word in (
        "equipment",
        "fish",
        "information",
        "jeans",
        "money",
        "rice",
        "series",
        "sheep",
        "species",
    )
]


@_functools.lru_cache(maxsize=65536)
def singularize(word: str) -> str:
    """``inflection.singularize`` (0.3.1) equivalent.

    Cached: a pure function of the word, and the classification path
    singularizes the same bounded vocabulary (sample tokens + static
    bucket tokens) millions of times per partition — the uncached rule
    scan was ~40 regex searches per call (measured 5.6 s of a 26 s
    classify profile over 500 rows)."""
    for pattern in _UNCOUNTABLES:
        if pattern.search(word):
            return word
    for rule, replacement in _SINGULAR_RULES:
        if rule.search(word):
            return rule.sub(replacement, word)
    return word


# ---------------------------------------------------------------------------
# Reference scalar helpers (pipeline_helpers.py semantics)
# ---------------------------------------------------------------------------

_PUNCT_CLASS = re.compile(r"[-_();/:%,]")


def punctuation_treatment(term: str) -> str:
    """Replace ``[-_();/:%,]`` with space; collapse whitespace."""
    return " ".join(_PUNCT_CLASS.sub(" ", term).split())


def preprocess(token: str) -> str:
    """Drop possessives, rightmost comma/quote and rightmost period."""
    return token.replace("'s", "").rstrip("', ").rstrip(". ")


def is_number(s: str) -> bool:
    try:
        float(s)
        return True
    except ValueError:
        pass
    try:
        unicodedata.numeric(s)
        return True
    except (TypeError, ValueError):
        pass
    return False


def is_date(s: str) -> bool:
    if _dateutil_parse is None:  # pragma: no cover
        return False
    try:
        _dateutil_parse(s)
        return True
    except Exception:
        # dateutil raises ValueError/OverflowError; some versions also
        # raise ParserError (a ValueError subclass) or TypeError.
        return False
