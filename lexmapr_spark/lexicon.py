"""Lexicon compilation: resource CSVs -> broadcastable lookup structure.

Re-expresses the reference's lookup-table build
(``lexmapr/pipeline_resources.py:168-248,411-432``) with one key
architectural change for scale: instead of pre-enumerating every
token permutation of every label (k! keys per label,
``pipeline_resources.py:289-307``), we index **sorted-token canonical
keys**. Membership of any permutation of a token multiset in the
reference's permutation index is exactly equivalent to membership of
the multiset's canonical key here, and the reference's
"dict-overwrite, last write wins" collision priority is replicated by
building in the same iteration order.

The compiled lexicon is a plain picklable object of dicts — a few MB —
designed to be shipped to executors once via ``SparkContext.broadcast``
and probed per Arrow batch inside pandas UDFs (the moral equivalent of
a broadcast hash join on every matching tier).
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
from dataclasses import dataclass, field, fields

from lexmapr_spark.textops import punctuation_treatment, word_tokenize

RESOURCE_DIR = os.path.join(os.path.dirname(__file__), "resources", "predefined")


def get_resource_dict(resource_file_name: str, resource_dir: str = RESOURCE_DIR) -> dict:
    """(col0 -> col1) lowercased, header skipped, extra cols ignored.

    Parity: ``lexmapr/pipeline_resources.py:251-286``.
    """
    ret: dict[str, str] = {}
    with open(os.path.join(resource_dir, resource_file_name), newline="") as fp:
        next(fp)
        for row in csv.reader(fp, delimiter=","):
            if not row:
                continue
            key = row[0].strip().lower()
            try:
                val = row[1].strip().lower()
            except IndexError:
                val = ""
            ret[key] = val
    return ret


def canonical_key(tokens) -> str:
    """Order-insensitive key for a token sequence (whitespace split)."""
    return " ".join(sorted(tokens))


@dataclass
class Lexicon:
    """Compiled 16-map lexicon + canonical indexes + ancestor closure.

    Exact-string maps mirror the reference lookup table
    (``pipeline_resources.py:168-199``); ``canon_*`` maps power the
    permutation-free matching described in the module docstring.
    """

    # reference-shaped maps
    non_standard_resource_ids: dict = field(default_factory=dict)
    standard_resource_labels: dict = field(default_factory=dict)
    synonyms: dict = field(default_factory=dict)
    parents: dict = field(default_factory=dict)
    abbreviations: dict = field(default_factory=dict)
    non_english_words: dict = field(default_factory=dict)
    spelling_mistakes: dict = field(default_factory=dict)
    inflection_exceptions: dict = field(default_factory=dict)
    stop_words: dict = field(default_factory=dict)
    suffixes: dict = field(default_factory=dict)
    # classification maps
    buckets_ifsactop: dict = field(default_factory=dict)
    buckets_lexmapr: dict = field(default_factory=dict)
    ifsac_labels: dict = field(default_factory=dict)
    ifsac_refinement: dict = field(default_factory=dict)
    ifsac_default: dict = field(default_factory=dict)

    # canonical indexes (replace standard_resource_label_permutations)
    # canon key -> resource_id; same coverage rules as the reference
    # permutation index (<7 tokens, predefined excludes ncbitaxon)
    canon_perms: dict = field(default_factory=dict)
    # canon key -> {exact label string: resource_id} over ALL labels
    # (used by the component matcher's query-time permutation search)
    canon_labels: dict = field(default_factory=dict)
    # canon key -> {exact synonym string: standardized label}
    canon_syns: dict = field(default_factory=dict)
    # scientific names (foodon_ncbi_synonyms.csv), exact-string map
    scientific_names: dict = field(default_factory=dict)
    # term_id -> frozenset of strict-ancestor ids (precomputed closure
    # replacing per-row DFS, lexmapr/pipeline_helpers.py:415-448)
    ancestors: dict = field(default_factory=dict)
    # every token appearing in any matchable key (labels, permutation
    # index, synonyms): a gram chunk containing a token outside this
    # vocabulary cannot match ANY tier (suffixes only ADD tokens), so
    # the component matcher prunes it in O(tokens) — the main
    # scale lever for web text, where most tokens are out-of-domain
    vocab: frozenset = frozenset()
    # canonical keys K such that K + some suffix's tokens equals the
    # canonical key of some label/permutation entry: one O(1) probe
    # answers "could ANY suffix addition ever match this chunk?",
    # replacing 15 sort+join canonical probes per chunk
    suffix_bases: frozenset = frozenset()

    def content_hash(self) -> str:
        """sha256 of every compiled map as sorted-key JSON. Equal content
        hashes equal in any process; a pickle hash would not, because
        frozensets pickle in ``PYTHONHASHSEED`` order. Computed once per
        object (~0.2 s for the predefined lexicon) and cached on it, so
        finish mutating a lexicon before hashing it."""
        cached = self.__dict__.get("_content_hash")
        if cached is None:
            blob = json.dumps(
                {f.name: getattr(self, f.name) for f in fields(self)},
                sort_keys=True, default=sorted)
            cached = hashlib.sha256(blob.encode()).hexdigest()
            self._content_hash = cached
        return cached

    def add_synonym(self, raw_synonym: str, standardized_label: str) -> None:
        self.synonyms[raw_synonym] = standardized_label
        self.canon_syns.setdefault(
            canonical_key(raw_synonym.split()), {})[raw_synonym] = standardized_label

    def finalize(self) -> None:
        """(Re)build derived indexes after bulk map mutation."""
        self.canon_syns = {}
        for syn, label in self.synonyms.items():
            self.canon_syns.setdefault(canonical_key(syn.split()), {})[syn] = label
        self.ancestors = compute_ancestor_closure(self.parents)
        self.build_vocab()

    def build_vocab(self) -> None:
        vocab: set = set()
        for key in self.canon_labels:
            vocab.update(key.split())
        for key in self.canon_perms:
            vocab.update(key.split())
        for key in self.canon_syns:
            vocab.update(key.split())
        self.vocab = frozenset(vocab)

        # suffix-extension bases (see field doc)
        from collections import Counter
        bases: set = set()
        suffix_counters = [
            (Counter(s.split()), len(s.split())) for s in self.suffixes]
        for key in set(self.canon_labels) | set(self.canon_perms):
            key_tokens = key.split()
            key_counter = Counter(key_tokens)
            for sfx_counter, sfx_len in suffix_counters:
                if sfx_len >= len(key_tokens):
                    continue
                remainder = key_counter - sfx_counter
                if sum(remainder.values()) == len(key_tokens) - sfx_len:
                    bases.add(" ".join(sorted(remainder.elements())))
        self.suffix_bases = frozenset(bases)


def term_parent_hierarchies(term_id: str, parents: dict) -> list:
    """All root-ward paths from ``term_id`` (inclusive) — the
    reference's quirky expansion (``pipeline_helpers.py:415-448``): the
    WHOLE loop breaks the moment any hierarchy's tip is
    ``bfo_0000001``, leaving later hierarchies unexpanded (their
    partial contents still count). We add a guard against non-bfo
    cycles (where the reference would loop forever)."""
    hierarchies = [[term_id]]
    i = 0
    while i < len(hierarchies):
        hierarchy = hierarchies[i]
        node = hierarchy[-1]
        if str(node) == "bfo_0000001":
            break
        node_parents = parents.get(node)
        if node_parents:
            fresh = [p for p in node_parents if p not in hierarchy]
            if fresh:
                for p in fresh:
                    hierarchies.append(hierarchy + [p])
                hierarchies.pop(i)
                continue
        i += 1
    return hierarchies


def compute_ancestor_closure(parents: dict[str, list]) -> dict[str, frozenset]:
    """Per-term strict-ancestor sets, precomputed at lexicon-compile
    time from the SAME quirky hierarchy expansion the reference runs
    per row (``pipeline.py:222-233``: union of every returned
    hierarchy minus its first element — including hierarchies left
    unexpanded by the bfo_0000001 break). Byte-for-byte reproduction of
    the reference's ancestor set per term, without per-row graph walks.
    """
    closure: dict[str, frozenset] = {}
    for term in parents:
        anc: set = set()
        for hierarchy in term_parent_hierarchies(term, parents):
            anc |= set(hierarchy[1:])
        closure[term] = frozenset(anc)
    return closure


# The reference repo shipped a committed, pre-compiled
# ``resources/lookup_table.json`` (stripped as a large blob, see
# ``/root/reference/.MISSING_LARGE_BLOBS``) whose content has drifted
# from the CSVs it was originally compiled from. The golden e2e corpus
# (the north rule's P/R target) pins the *cache's* behavior. These are
# the minimal cache-vs-CSV divergences the goldens prove:
#   - stop list: had "by"/"of" (test_stop_word_handling,
#     test_full_term_perm_match goldens), did NOT have the bare letter
#     "f" (test_abbreviations golden keeps+translates it)
#   - abbreviations: had "f" -> "fahrenheit" (test_abbreviations)
#   - synonyms: no golden exhibits "Synonym Usage"; SynLex.csv's
#     "manure" -> "animal manure" would produce a match the golden for
#     test_full_term_wiki_match lacks, so the cache's synonym map did
#     not contain today's SynLex rows. Parity mode therefore compiles
#     with synonyms disabled (the tier itself stays implemented and
#     unit-tested; pass golden_parity=False to load SynLex).
GOLDEN_STOPWORD_ADD = ("by", "of")
GOLDEN_STOPWORD_REMOVE = ("f",)
GOLDEN_ABBREVIATION_ADD = {"f": "fahrenheit"}


def compile_predefined(resource_dir: str = RESOURCE_DIR,
                       with_classification: bool = True,
                       golden_parity: bool = True) -> Lexicon:
    """Compile the predefined resource CSVs into a Lexicon.

    Parity: ``pipeline_resources.py:202-248`` (+ ``411-432`` for the
    classification maps, which the reference keeps in a separate
    lookup table but are just five more small dicts).
    """
    lex = Lexicon()
    lex.abbreviations = get_resource_dict("AbbLex.csv", resource_dir)
    lex.non_english_words = get_resource_dict("NefLex.csv", resource_dir)
    lex.spelling_mistakes = get_resource_dict("ScorLex.csv", resource_dir)
    lex.inflection_exceptions = get_resource_dict("inflection-exceptions.csv", resource_dir)
    lex.stop_words = get_resource_dict("mining-stopwords.csv", resource_dir)
    lex.suffixes = get_resource_dict("suffixes.csv", resource_dir)

    if golden_parity:
        for w in GOLDEN_STOPWORD_ADD:
            lex.stop_words[w] = ""
        for w in GOLDEN_STOPWORD_REMOVE:
            lex.stop_words.pop(w, None)
        lex.abbreviations.update(GOLDEN_ABBREVIATION_ADD)
    else:
        for k, v in get_resource_dict("SynLex.csv", resource_dir).items():
            lex.add_synonym(punctuation_treatment(k), punctuation_treatment(v))

    # Build labels in CSV order: duplicate standardized labels and
    # colliding canonical keys overwrite earlier entries, matching the
    # reference's dict semantics.
    raw_ids = get_resource_dict("CombinedResourceTerms.csv", resource_dir)
    # standard_resource_labels is built as {std_label: id} in one
    # comprehension (pipeline_resources.py:232-235): later ids win per
    # duplicate label. Then the permutation index iterates over that
    # deduplicated dict. Replicate by deduping first.
    std_labels: dict[str, str] = {}
    for rid, raw_label in raw_ids.items():
        std_labels[punctuation_treatment(raw_label)] = rid
    lex.non_standard_resource_ids = dict(raw_ids)
    for label, rid in std_labels.items():
        lex.standard_resource_labels[label] = rid
        ckey = canonical_key(label.split())
        lex.canon_labels.setdefault(ckey, {})[label] = rid
        if len(word_tokenize(label)) < 7 and "ncbitaxon" not in rid:
            lex.canon_perms[ckey] = rid

    lex.scientific_names = get_resource_dict("foodon_ncbi_synonyms.csv", resource_dir)

    if with_classification:
        lex.buckets_lexmapr = get_resource_dict("buckets-lexmapr.csv", resource_dir)
        lex.buckets_ifsactop = get_resource_dict("buckets-ifsactop.csv", resource_dir)
        lex.ifsac_labels = get_resource_dict("ifsac-labels.csv", resource_dir)
        lex.ifsac_default = get_resource_dict("ifsac-default.csv", resource_dir)
        lex.ifsac_refinement = get_resource_dict("ifsac-refinement.csv", resource_dir)

    lex.ancestors = compute_ancestor_closure(lex.parents)
    lex.build_vocab()
    return lex


_CACHED: Lexicon | None = None


def default_lexicon() -> Lexicon:
    """Process-level memoized predefined lexicon (compile once, ~1s)."""
    global _CACHED
    if _CACHED is None:
        _CACHED = compile_predefined()
    return _CACHED
