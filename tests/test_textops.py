"""Unit tests for vendored scalar ops.

Cases transcribed from the reference's unit suite
(``lexmapr/tests/test_pipeline.py:22-283``) — including the quirks it
documents as spec.
"""

import random
import re

from lexmapr_spark import textops as t


def test_is_number():
    assert not t.is_number("")
    assert not t.is_number("foo")
    assert t.is_number("0")
    assert t.is_number("1")
    assert t.is_number("-1")
    assert t.is_number("0.5")
    assert t.is_number(".5")
    assert t.is_number("½")


def test_is_date():
    assert not t.is_date("")
    assert not t.is_date("foo")
    assert t.is_date("2018")
    assert t.is_date("2018-05-07")
    assert t.is_date("01/01/2018")
    assert t.is_date("may 7 2018")


def test_preprocess():
    assert t.preprocess("") == ""
    assert t.preprocess("foo") == "foo"
    assert t.preprocess("foo's") == "foo"
    assert t.preprocess("foo,") == "foo"
    assert t.preprocess("foo.") == "foo"
    # quirk preserved from reference tests: internal "'s" also removed
    assert t.preprocess("foo's bar") == "foo bar"
    # rightmost-strip quirks
    assert t.preprocess("foo, bar,") == "foo, bar"
    assert t.preprocess("foo. bar.") == "foo. bar"


def test_punctuation_treatment():
    assert t.punctuation_treatment("") == ""
    assert t.punctuation_treatment("foo") == "foo"
    assert t.punctuation_treatment("foo-bar") == "foo bar"
    assert t.punctuation_treatment("foo_bar") == "foo bar"
    assert t.punctuation_treatment("(foo)") == "foo"
    assert t.punctuation_treatment("foo;bar") == "foo bar"
    assert t.punctuation_treatment("foo/bar") == "foo bar"
    assert t.punctuation_treatment("foo:bar") == "foo bar"
    assert t.punctuation_treatment("foo%bar") == "foo bar"
    assert t.punctuation_treatment("foo,bar") == "foo bar"
    assert t.punctuation_treatment("a  -  b") == "a b"
    # periods are NOT scrubbed
    assert t.punctuation_treatment("foo.bar") == "foo.bar"


def test_tokenize_basic():
    assert t.word_tokenize("chicken breast") == ["chicken", "breast"]
    assert t.word_tokenize("anatomical fruit seed part's") == [
        "anatomical", "fruit", "seed", "part", "'s"]
    assert t.word_tokenize("dong kard. pak") == ["dong", "kard", ".", "pak"]
    assert t.word_tokenize("") == []
    # a trailing newline is whitespace, not part of the last token
    assert t.word_tokenize("chicken breast\n") == ["chicken", "breast"]


def test_singularize_inflection_0_3_1_quirks():
    # golden-pinned quirks (bugs preserved as spec)
    assert t.singularize("as") == "a"
    assert t.singularize("does") == "do"
    assert t.singularize("epiphysis") == "epiphysi"
    # normal cases
    assert t.singularize("potatoes") == "potato"
    assert t.singularize("carrots") == "carrot"
    assert t.singularize("noodles") == "noodle"
    assert t.singularize("species") == "species"
    # ([^f])ves$ -> \1fe overreach, preserved as spec
    assert t.singularize("leaves") == "leafe"


def test_detokenize_roundtrip():
    assert t.treebank_detokenize(["chicken", "breast"]) == "chicken breast"
    assert t.treebank_detokenize(["a", "{b", "c}", "d"]) == "a {b c} d"
    assert t.treebank_detokenize(["chicken", "breast\n"]) == "chicken breast"


# --- literal-trigger prefilter vs the unfiltered Treebank chains -----------
#
# The reference: NLTK's rule chains exactly as textops ran them before
# the prefilter — every regexp, every call, no trigger check and no
# plain-text fast path.

_REF_STARTING_QUOTES = [
    (re.compile("([«“‘„]|[`]+)", re.U), r" \1 "),
    (re.compile(r"^\""), r"``"),
    (re.compile(r"(``)"), r" \1 "),
    (re.compile(r"([ \(\[{<])(\"|\'{2})"), r"\1 `` "),
    (re.compile(r"(?i)(\')(?!re|ve|ll|m|t|s|d|n)(\w)\b", re.U), r"\1 \2"),
]
_REF_PUNCTUATION = [
    (re.compile(r"([»”’])", re.U), r" \1 "),
    (re.compile(r"([^\.])(\.)([\]\)}>\"\'»”’ ]*)\s*$", re.U), r"\1 \2 \3 "),
    (re.compile(r"([:,])([^\d])"), r" \1 \2"),
    (re.compile(r"([:,])$"), r" \1 "),
    (re.compile(r"\.{2,}", re.U), r" \g<0> "),
    (re.compile(r"[;@#$%&]"), r" \g<0> "),
    (re.compile(r"[?!]"), r" \g<0> "),
    (re.compile(r"([^'])' "), r"\1 ' "),
    (re.compile(r"[*]", re.U), r" \g<0> "),
    (re.compile(r"[\]\[\(\)\{\}\<\>]"), r" \g<0> "),   # parens, brackets
    (re.compile(r"--"), r" -- "),                     # double dashes
]
_REF_ENDING_QUOTES = [
    (re.compile("([»”’])", re.U), r" \1 "),
    (re.compile(r"''"), " '' "),
    (re.compile(r'"'), " '' "),
    (re.compile(r"([^' ])('[sS]|'[mM]|'[dD]|') "), r"\1 \2 "),
    (re.compile(r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) "), r"\1 \2 "),
]
_REF_CONTRACTIONS2 = [
    r"(?i)\b(can)(?#X)(not)\b", r"(?i)\b(d)(?#X)('ye)\b",
    r"(?i)\b(gim)(?#X)(me)\b", r"(?i)\b(gon)(?#X)(na)\b",
    r"(?i)\b(got)(?#X)(ta)\b", r"(?i)\b(lem)(?#X)(me)\b",
    r"(?i)\b(more)(?#X)('n)\b", r"(?i)\b(wan)(?#X)(na)(?=\s)",
]
_REF_CONTRACTIONS3 = [r"(?i) ('t)(?#X)(is)\b", r"(?i) ('t)(?#X)(was)\b"]
_REF_DETOKENIZE = [
    (re.compile(p.replace("(?#X)", r"\s")), r"\1\2")
    for p in _REF_CONTRACTIONS3 + _REF_CONTRACTIONS2
] + [
    (re.compile(r"([^' ])\s('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) "), r"\1\2 "),
    (re.compile(r"([^' ])\s('[sS]|'[mM]|'[dD]|') "), r"\1\2 "),
    (re.compile(r"(\S)\s(\'\')"), r"\1\2"),
    (re.compile(r"(\'\')\s([.,:)\]>};%])"), r"\1\2"),
    (re.compile(r"''"), '"'),
    (re.compile(r" -- "), r"--"),
    (re.compile(r"([\[\(\{\<])\s"), r"\g<1>"),
    (re.compile(r"\s([\]\)\}\>])"), r"\g<1>"),
    (re.compile(r"([\]\)\}\>])\s([:;,.])"), r"\1\2"),
    (re.compile(r"([^'])\s'\s"), r"\1' "),
    (re.compile(r"\s([?!])"), r"\g<1>"),
    (re.compile(r'([^\.])\s(\.)([\]\)}>"\']*)\s*$'), r"\1\2\3"),
    (re.compile(r"([#$])\s"), r"\g<1>"),
    (re.compile(r"\s([;%])"), r"\g<1>"),
    (re.compile(r"\s([:,])"), r"\1"),
    (re.compile(r"([ (\[{<])\s``"), r"\1``"),
    (re.compile(r"(``)\s"), r"\1"),
    (re.compile(r"``"), r'"'),
]
_REF_CONTRACTIONS = [re.compile(p) for p in
                     _REF_CONTRACTIONS2 + _REF_CONTRACTIONS3]


def _ref_treebank_tokenize(text):
    for regexp, substitution in _REF_STARTING_QUOTES + _REF_PUNCTUATION:
        text = regexp.sub(substitution, text)
    text = " " + text + " "
    for regexp, substitution in _REF_ENDING_QUOTES:
        text = regexp.sub(substitution, text)
    for regexp in _REF_CONTRACTIONS:
        text = regexp.sub(r" \1 \2 ", text)
    return text.split()


def _ref_treebank_detokenize(tokens):
    text = " ".join(tokens)
    for regexp, substitution in _REF_DETOKENIZE:
        text = regexp.sub(substitution, text)
    return text.strip()


_CONTRACTION_WORDS = [
    "cannot", "can not", "d'ye", "d 'ye", "gimme", "gim me", "gonna",
    "gon na", "gotta", "got ta", "lemme", "lem me", "more'n", "more 'n",
    "wanna", "wan na", "'tis", "'t is", "'twas", "'t was", "can't", "won't",
    "don't", "i'm", "they'll", "we're", "you've", "he'd", "it's", "'s",
    "o'neill", "rock'n'roll", "'em", "y'all"]
_SPECIALS = [
    '"', "''", "`", "``", "'", "«", "»", "“", "”", "‘", "’", "„", "(", ")",
    "[", "]", "{", "}", "<", ">", "--", "-", "...", "..", ".", ",", ":", ";",
    "@", "#", "$", "%", "&", "?", "!", "*", "\t", "\n", " ", "  ", "İ", "ı",
    "ſ", "K", "é", "3:4", "1,000", "e.coli", "o26:h11"]
# re's IGNORECASE matches these to ASCII letters; str.lower() does not
_FOLDS = {"i": ["İ", "ı"], "s": ["ſ"], "k": ["K"]}


def _random_case(rng, word):
    return "".join(c.upper() if rng.random() < 0.5 else c for c in word)


def _fold(rng, word):
    spots = [i for i, c in enumerate(word.lower()) if c in _FOLDS]
    if not spots:
        return word
    i = rng.choice(spots)
    return word[:i] + rng.choice(_FOLDS[word[i].lower()]) + word[i + 1:]


def _prefilter_texts(n):
    """``n`` seeded strings: corpus descriptions and 1-3-description
    pages, with quotes, brackets, dashes, ellipses, contractions in
    every case (some with a non-ASCII case fold), ``İ ı ſ K é``, tabs
    and newlines put in between words or glued onto them."""
    from lexmapr_spark.pages import load_corpus

    rng = random.Random(20261020)
    corpus = sorted(set(load_corpus()))
    out = []
    while len(out) < n:
        words = ". ".join(rng.choice(corpus)
                          for _ in range(rng.choice((1, 1, 2, 3)))).split(" ")
        for _ in range(rng.choice((0, 1, 2, 3, 5))):
            if rng.random() < 0.4:
                extra = _random_case(rng, rng.choice(_CONTRACTION_WORDS))
                if rng.random() < 0.2:
                    extra = _fold(rng, extra)
            else:
                extra = rng.choice(_SPECIALS)
            i = rng.randrange(len(words) + 1)
            glue = rng.random()
            if glue < 0.2 and i < len(words):
                words[i] = extra + words[i]
            elif glue < 0.4 and i > 0:
                words[i - 1] += extra
            else:
                words.insert(i, extra)
        text = " ".join(words)
        out.append(text)
        if text.lower() != text:
            out.append(text.lower())
    return out


def _assert_maps(fn, inputs, want):
    got = [fn(x) for x in inputs]
    if got != want:
        x, g, w = next(c for c in zip(inputs, got, want) if c[1] != c[2])
        raise AssertionError(f"{fn.__name__}({x!r}) = {g!r}, want {w!r}")


def test_trigger_prefilter_equals_unfiltered_chains():
    texts = _prefilter_texts(100_000)
    ref_tokens = [_ref_treebank_tokenize(x) for x in texts]
    _assert_maps(t.treebank_tokenize, texts, ref_tokens)
    ref_words = []
    for text, ref in zip(texts, ref_tokens):
        sents = t.sent_tokenize(text)
        ref_words.append(ref if sents == [text] else [
            tok for sent in sents for tok in _ref_treebank_tokenize(sent)])
    _assert_maps(t.word_tokenize, texts, ref_words)
    # detokenize what the tokenizer makes and, every other string, the
    # raw space-split text (tabs, newlines, glued quotes)
    t._detokenize_slow.cache_clear()
    token_lists = [text.split(" ") if i % 2 else ref
                   for i, (text, ref) in enumerate(zip(texts, ref_tokens))]
    _assert_maps(t.treebank_detokenize, token_lists,
                 [_ref_treebank_detokenize(x) for x in token_lists])
