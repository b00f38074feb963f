"""The LexMapr matching cascade as a pure, broadcast-driven function.

Re-implements the per-row semantics of ``lexmapr/pipeline.py:110-291``
and ``lexmapr/pipeline_helpers.py`` as a side-effect-free function
``process_sample(text, lexicon) -> MatchResult`` suitable for running
inside an Arrow-batched ``mapInPandas`` stage with the lexicon shipped
once per executor via ``SparkContext.broadcast``.

Scale notes
-----------
* Every matching tier is an O(1) hash probe against broadcast dicts
  (the moral equivalent of a broadcast hash join) — the job's main
  path needs **no shuffle at all**.
* The reference enumerates up to k! token permutations per gram chunk
  and 15 suffix variants per permutation
  (``pipeline.py:197-220``, ``pipeline_helpers.py:469-499``). We
  replace that with canonical sorted-token probes that answer "could
  ANY permutation match?" in O(1); only on a positive probe (rare) do
  we enumerate permutations to find the exact reference winner, so
  worst-case semantics are identical but the common case is ~100x
  cheaper.
* The component tier walks every ``combinations(tokens, k)`` chunk
  (k = 5..1) for samples under 15 tokens, and almost none of them can
  hit a map. A candidate index, built once per lexicon object, lists
  every 1..5-token key of the four canonical maps under its rarest
  token; ``_spelled_chunks`` emits only the chunks some key can spell,
  in ``combinations()`` order, and the loop body is unchanged. Every
  skipped chunk would have missed all four probes and changed no
  state, so results are identical (``_get_gram_chunks`` stays the
  reference enumeration, and the path for 15+ tokens).
"""

from __future__ import annotations

import re
from collections import Counter, OrderedDict
from dataclasses import dataclass, field
from itertools import chain, combinations, groupby, permutations, product

from lexmapr_spark.lexicon import Lexicon, canonical_key
from lexmapr_spark.textops import (
    is_date,
    is_number,
    preprocess,
    punctuation_treatment,
    singularize,
    treebank_detokenize,
    word_tokenize,
)


@dataclass
class MatchResult:
    sample_id: str = ""
    sample_desc: str = ""
    processed_sample: str = ""
    processed_sample_sci_name: str = ""
    matched_components: list = field(default_factory=list)
    # (label, ID_UPPER) pairs split on the LAST colon — the reference's
    # display standardization (split(':')[1], pipeline_helpers.py:569)
    # destroys IDs for labels that contain ':' (e.g. 'escherichia coli
    # o26:h11'); the KG path must use these unmangled pairs
    matched_pairs: list = field(default_factory=list)
    macro_status: str = "No Match"
    micro_status: list = field(default_factory=list)
    transformations: dict = field(default_factory=dict)
    # --bucket tier (populated when classify=True)
    lexmapr_classification: list = field(default_factory=list)
    lexmapr_bucket: list = field(default_factory=list)
    third_party_bucket: list = field(default_factory=list)
    third_party_classification: list = field(default_factory=list)
    # confidence inputs (C7, dormant in the reference): tokens of the
    # cleaned sample and the component-match covered set
    # (pipeline.py:195-219 covered_tokens), sorted for determinism
    sample_tokens: list = field(default_factory=list)
    covered_tokens: list = field(default_factory=list)


# ---------------------------------------------------------------------------
# wide-output format (pipeline.py:60-95,279-292) — pure Python, shared by
# the CLI, the golden harness and the engine's wide sinks
# ---------------------------------------------------------------------------

def wide_headers(full: bool = True, bucket: bool = False) -> list[str]:
    """Wide-output header cells (pipeline.py:60-95)."""
    headers = ["Sample_Id", "Sample_Desc", "Processed_Sample",
               "Processed_Sample (With Scientific Name)",
               "Matched_Components", "Match_Status(Macro Level)"]
    if full:
        headers += ["Match_Status(Micro Level)", "Sample_Transformations"]
    if bucket:
        if full:
            headers += ["LexMapr Classification (Full List)",
                        "LexMapr Bucket", "Third Party Bucket"]
        headers += ["Third Party Classification"]
    return headers


def format_wide_cells(url, sample_desc, processed_sample, sci_name,
                      matched_components, macro_status,
                      micro_status=None, transformations=None,
                      lexmapr_classification=None, lexmapr_bucket=None,
                      third_party_bucket=None, ifsac_labels=None,
                      full: bool = True, bucket: bool = False) -> list[str]:
    """One wide-output row's cells in the reference's rendering
    (pipeline.py:279-292 — Python str() of lists/dicts), in
    :func:`wide_headers` order. ``transformations`` is an ordered
    (token, lemma) pair sequence; the three full-bucket cells arrive
    already str()-rendered."""
    cells = [url, sample_desc, processed_sample, sci_name,
             str(list(matched_components)), macro_status]
    if full:
        cells += [str(list(micro_status)),
                  str(dict(transformations))]
    if bucket:
        if full:
            cells += [lexmapr_classification, lexmapr_bucket,
                      third_party_bucket]
        cells += [str(list(ifsac_labels))]
    return cells


# ---------------------------------------------------------------------------
# map_term and helpers (pipeline_helpers.py:451-528 semantics)
# ---------------------------------------------------------------------------

def _map_term_helper(term: str, lex: Lexicon):
    """Exact-string two-tier lookup (pipeline_helpers.py:505-528).

    Permutation-index membership is tested via the canonical key: a
    query string ``t`` is in the reference's pre-enumerated permutation
    index iff the sorted-token key of ``t`` is in ``canon_perms``.
    """
    rid = lex.standard_resource_labels.get(term)
    if rid is not None:
        return {"term": lex.non_standard_resource_ids[rid], "id": rid,
                "status": ["A Direct Match"]}
    # Reference permutation-index keys are always single-space joins of
    # their tokens, so a query with irregular spacing (e.g. a leading
    # space from an empty term + suffix) can never hit it. Guard before
    # the order-insensitive canonical probe.
    tokens = term.split()
    if " ".join(tokens) != term:
        return None
    rid = lex.canon_perms.get(canonical_key(tokens))
    if rid is not None:
        return {"term": lex.non_standard_resource_ids[rid], "id": rid,
                "status": ["Permutation of Tokens in Resource Term"]}
    return None


def map_term(term: str, lex: Lexicon, consider_suffixes: bool = False):
    """Full-term mapping cascade (pipeline_helpers.py:451-502)."""
    if consider_suffixes:
        # canonical guard: the suffix loop can only ever hit when the
        # term's sorted-token key is a known suffix-extension base —
        # one probe replaces 15 (or 30) exact lookups on the miss path.
        # (Necessary condition only: the loop itself stays exact.)
        if canonical_key(term.split()) in lex.suffix_bases:
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


def _match_chunk_any_permutation(chunk_tokens: tuple, lex: Lexicon):
    """Reference-exact replacement for the per-permutation loop at
    ``pipeline.py:208-220``.

    The reference tries, for each permutation ``p`` of the chunk in
    ``itertools.permutations`` order: ``map_term(p)`` then
    ``map_term(p, consider_suffixes=True)``, stopping at the first hit.
    We first answer "can anything at all match?" with O(1) canonical
    probes; only if some tier can match do we run the (bounded, k<=5 so
    <=120-step) exact enumeration.
    """
    ckey = canonical_key(chunk_tokens)
    label_cands = lex.canon_labels.get(ckey)
    perm_hit = ckey in lex.canon_perms
    syn_cands = lex.canon_syns.get(ckey)
    suffix_possible = ckey in lex.suffix_bases

    if not (label_cands or perm_hit or syn_cands or suffix_possible):
        return None  # fast path: no permutation can match any tier

    for perm in OrderedDict.fromkeys(permutations(chunk_tokens)):
        s = " ".join(perm)
        mapping = map_term(s, lex)
        if not mapping:
            mapping = map_term(s, lex, consider_suffixes=True)
        if mapping:
            return mapping
    return None


# ---------------------------------------------------------------------------
# Scalar stages shared by full-term and component paths
# ---------------------------------------------------------------------------

def _remove_duplicate_tokens(input_string: str) -> str:
    """pipeline_helpers.py:150-172 semantics."""
    seen: list = []
    for token in input_string.split(" "):
        if token not in seen:
            seen.append(token)
    refined = treebank_detokenize(seen).strip()
    if "gallus gallus" in input_string and "gallus gallus" not in refined:
        refined = refined.replace("gallus", "gallus gallus")
    return refined


def _collapse(s: str) -> str:
    # regex only when a double space can exist (rare: empty/multiword
    # lemmas) — this runs twice per token in the cleaning loop
    return re.sub(" +", " ", s) if "  " in s else s


# A "plain" token re-tokenizes to itself, so word_tokenize of a chunk
# of plain tokens is the chunk itself — skips ~300 tokenizer calls/row.
_PLAIN_TOKEN = re.compile(r"^[a-z0-9]+$")

# Cap on the per-lexicon token-cleaning memo (web text repeats tokens
# heavily; the reference recomputes 4 dict probes + up to 32 regex
# rules per occurrence, lexmapr/pipeline.py:132-144). The memo lives ON
# the lexicon instance, so its lifetime matches the lexicon's (no
# id()-reuse staleness) and it is bounded on long-lived executors.
_TOKEN_MEMO_MAX = 1_000_000


def _clean_token(token: str, lex: Lexicon):
    """Date/number drop + preprocess + 4 normalization tiers for one
    raw token. Returns (dropped, token_after_preprocess, lemma,
    micro_entries tuple)."""
    memo = lex.__dict__.get("_token_memo")
    if memo is None:
        memo = lex.__dict__["_token_memo"] = {}
    elif len(memo) > _TOKEN_MEMO_MAX:
        memo.clear()
    hit = memo.get(token)
    if hit is not None:
        return hit
    if is_date(token) or is_number(token):
        result = (True, token, token, ())
        memo[token] = result
        return result
    raw = token
    token = preprocess(token)
    micro: list = []

    # singularize_token (pipeline_helpers.py:14-39)
    lemma = token
    if token not in lex.inflection_exceptions:
        lemma = singularize(token)
    for tail in ("us", "ia", "ta"):
        if token.endswith(tail):
            lemma = token
    if token != lemma:
        micro.append("Inflection (Plural) Treatment: " + token)

    hit2 = lex.spelling_mistakes.get(lemma)
    if hit2 is not None:
        lemma = hit2
        micro.append("Spelling Correction Treatment: " + lemma)
    hit2 = lex.abbreviations.get(lemma)
    if hit2 is not None:
        lemma = hit2
        micro.append("Abbreviation-Acronym Treatment: " + lemma)
    hit2 = lex.non_english_words.get(lemma)
    if hit2 is not None:
        lemma = hit2
        micro.append("Non English Language Words Treatment: " + lemma)

    result = (False, token, lemma, tuple(micro))
    memo[raw] = result
    return result


def _clean_sample(sample: str, lex: Lexicon):
    """Tokenize + per-token cleaning loop (pipeline.py:129-157).

    Returns (cleaned_sample, annotated_sample, micro_status,
    transformations).
    """
    micro_status: list = []
    transformations: dict = {}
    cleaned = ""
    annotated = ""

    for raw_token in word_tokenize(sample):
        dropped, token, lemma, micro_entries = _clean_token(raw_token, lex)
        if dropped:
            continue
        micro_status.extend(micro_entries)
        if token != lemma:
            transformations[token] = lemma

        # get_cleaned_sample (128-147) + collapse (pipeline.py:146)
        if not cleaned and lemma not in lex.stop_words:
            cleaned = lemma
        elif lemma not in lex.stop_words:
            cleaned = cleaned + " " + lemma
        cleaned = _collapse(cleaned)

        # abbreviation / non-English phrase-level (75-89, 110-125)
        hit = lex.abbreviations.get(cleaned)
        if hit is not None:
            cleaned = hit
            micro_status.append("Abbreviation-Acronym Treatment: " + cleaned)
        hit = lex.non_english_words.get(cleaned)
        if hit is not None:
            cleaned = hit
            micro_status.append("Non English Language Words Treatment: " + cleaned)

        # get_annotated_sample (531-552) + collapse (pipeline.py:153)
        if not annotated:
            annotated = lemma
        else:
            annotated = annotated + " " + lemma
        sci = lex.scientific_names.get(lemma)
        if sci is not None:
            annotated = annotated + "  {" + sci + "}"
        sci = lex.scientific_names.get(annotated)
        if sci is not None:
            annotated = annotated + "  {" + sci + "}"
        annotated = _collapse(annotated)

    cleaned = _remove_duplicate_tokens(cleaned)
    annotated = _remove_duplicate_tokens(annotated)
    return cleaned, annotated, micro_status, transformations


def _get_gram_chunks(input_str: str, num: int, tokens: list | None = None):
    """pipeline_helpers.py:252-273 semantics. ``tokens`` may carry the
    pre-computed ``word_tokenize(input_str)`` (it's the same for every
    gram size, so callers tokenize once per row, not once per size)."""
    if tokens is None:
        tokens = word_tokenize(input_str)
    if len(tokens) < 15:
        return list(combinations(tokens, num))
    split = input_str.split(" ")
    return [tuple(split[i:i + num]) for i in range(len(split) - num + 1)]


def _candidate_index(lex: Lexicon) -> dict:
    """token -> every 1..5-token key of ``canon_labels``, ``canon_perms``,
    ``canon_syns`` and ``suffix_bases`` whose rarest token it is (ties
    broken by the token string). Holds the maps' own key strings. Built
    once per lexicon object and kept in its ``__dict__`` (not a field,
    so ``content_hash()`` is unchanged), like the token memo, so finish
    mutating a lexicon before matching with it."""
    index = lex.__dict__.get("_candidate_index")
    if index is None:
        keys = {k for m in (lex.canon_labels, lex.canon_perms,
                            lex.canon_syns, lex.suffix_bases)
                for k in m if k and k.count(" ") < 5}
        freq = Counter(t for k in keys for t in set(k.split()))
        index = {}
        for k in keys:
            rarest = min(k.split(), key=lambda t: (freq[t], t))
            index.setdefault(rarest, []).append(k)
        lex.__dict__["_candidate_index"] = index
    return index


def _spelled_chunks(tokens: list, lex: Lexicon) -> list:
    """Per gram size 1..5 (list index), the ``combinations(tokens,
    size)`` chunks whose canonical key is a key of one of the four
    canonical maps, in ``combinations()`` order.

    Every other chunk of ``_get_gram_chunks`` misses all four probes of
    ``_match_chunk_any_permutation`` and changes no state, so the
    component loop may skip it. Each key whose token multiset fits in
    the sample's is found under its rarest token; every choice of
    positions that spells it is one chunk, and sorting the position
    tuples of one size restores the lexicographic order in which
    ``combinations()`` yields them. Keys are canonical (sorted), so
    ``groupby`` counts each distinct token's copies."""
    index = _candidate_index(lex)
    where: dict = {}
    for i, t in enumerate(tokens):
        where.setdefault(t, []).append(i)
    spelled: list = [[] for _ in range(6)]
    for t in where:
        for key in index.get(t, ()):
            key_tokens = key.split()
            if not all(map(where.__contains__, key_tokens)):
                continue
            picks = []
            for kt, run in groupby(key_tokens):
                pos = where[kt]
                need = sum(1 for _ in run)
                if len(pos) < need:
                    break
                picks.append(combinations(pos, need))
            else:
                spelled[len(key_tokens)].extend(
                    sorted(chain.from_iterable(parts))
                    for parts in product(*picks))
    return [[tuple(tokens[p] for p in pos) for pos in sorted(group)]
            for group in spelled]


def _discard_subsumed_words(word_list: list, retained: list) -> list:
    """pipeline_helpers.py:311-337 semantics (quirks preserved)."""
    for word in word_list:
        if " " not in word:
            for other in word_list:
                if word in retained and word in other and word != other:
                    retained.remove(word)
        else:
            for other in word_list:
                ctr = 0
                for part in word.split(" "):
                    if other.find(part) == -1:
                        ctr += 1
                if word in retained and ctr == 0 and word != other:
                    retained.remove(word)
    return retained


def _retain_phrase(term_list: list) -> list:
    """pipeline_helpers.py:340-372 semantics (quirks preserved)."""
    returned_final: list = []
    term_dict: dict = {}
    word_list: list = []
    retained: list = []
    returned: list = []
    for term in term_list:
        token_part, termid_part = term.split(":", 1)
        term_dict[token_part.strip()] = termid_part.strip()
        word_list.append(token_part.strip())
        retained.append(token_part.strip())
    retained = _discard_subsumed_words(word_list, retained)
    for item in retained:
        if item in term_dict:
            returned.append(item + ":" + term_dict[item])
            returned_final = list(OrderedDict.fromkeys(returned))
    return sorted(returned_final)


# ---------------------------------------------------------------------------
# Main entry: one sample through the full cascade
# ---------------------------------------------------------------------------

def process_sample(sample_id: str, original_sample: str, lex: Lexicon,
                   classify: bool = False) -> MatchResult:
    """pipeline.py:110-291 for one row, without I/O."""
    res = MatchResult(sample_id=sample_id.strip(), sample_desc=original_sample.strip())
    original_sample = res.sample_desc

    sample = punctuation_treatment(original_sample.lower())

    cleaned, annotated, micro_status, transformations = _clean_sample(sample, lex)
    res.micro_status = micro_status
    res.transformations = transformations

    matched_components: list = []
    macro_status = "No Match"
    third_party_classification: list = []

    # Full-term cascade: 4 ordered attempts (pipeline.py:159-177)
    full = map_term(sample, lex)
    if not full:
        full = map_term(cleaned, lex)
        if full:
            micro_status.insert(0, "Used Cleaned Sample")
    if not full:
        full = map_term(sample, lex, consider_suffixes=True)
    if not full:
        full = map_term(cleaned, lex, consider_suffixes=True)
        if full:
            micro_status.insert(0, "Used Cleaned Sample")

    if full:
        matched_components.append(full["term"] + ":" + full["id"])
        macro_status = "Full Term Match"
        micro_status += full["status"]
        res.sample_tokens = word_tokenize(cleaned)
    else:
        # Component matches (pipeline.py:193-220)
        component_matches: list = []
        covered_tokens: set = set()
        vocab = lex.vocab
        cleaned_tokens = word_tokenize(cleaned)
        res.sample_tokens = cleaned_tokens
        # per-distinct-token memo of (is_plain, prunable): every token
        # participates in up to ~15 chunks per window size, so running
        # the regex + vocab probe once per token (not once per
        # chunk-membership) cuts ~1.3M regex calls per 5k samples.
        # Filled on miss because the >=15-token chunk path splits on
        # spaces rather than reusing cleaned_tokens.
        tok_info = {
            t: (plain, plain and t not in vocab)
            for t in set(cleaned_tokens)
            for plain in (_PLAIN_TOKEN.match(t) is not None,)
        }
        # under 15 tokens, visit only the chunks that some lexicon key
        # can spell (the rest cannot match); longer samples keep the
        # reference's contiguous windows
        spelled = (_spelled_chunks(cleaned_tokens, lex)
                   if len(cleaned_tokens) < 15 else None)
        for i in range(5, 0, -1):
            for gram_chunk in (spelled[i] if spelled is not None else
                               _get_gram_chunks(cleaned, i, cleaned_tokens)):
                # vocabulary pruning: a chunk with any token outside
                # the lexicon token vocabulary cannot match any tier
                # (matching only ever ADDS suffix tokens), and skipping
                # it has no side effects — exact semantics, O(1)/token
                skip = False
                all_plain = True
                for t in gram_chunk:
                    v = tok_info.get(t)
                    if v is None:
                        plain = _PLAIN_TOKEN.match(t) is not None
                        v = (plain, plain and t not in vocab)
                        tok_info[t] = v
                    plain, prunable = v
                    if prunable:
                        skip = True
                        break
                    if not plain:
                        all_plain = False
                if skip:
                    continue
                concat = " ".join(gram_chunk)
                if all_plain:
                    gram_tokens = list(gram_chunk)
                else:
                    gram_tokens = word_tokenize(concat)
                if set(gram_tokens) <= covered_tokens:
                    continue
                component_match = _match_chunk_any_permutation(
                    tuple(concat.split()), lex)
                if component_match:
                    component_matches.append(component_match)
                    covered_tokens.update(gram_tokens)

        res.covered_tokens = sorted(covered_tokens)

        # Ancestor suppression via precomputed closure (pipeline.py:222-238)
        ancestors: set = set()
        for cm in component_matches:
            ancestors |= lex.ancestors.get(cm["id"], frozenset())
        for cm in component_matches:
            if cm["id"] not in ancestors:
                matched_components.append(cm["term"] + ":" + cm["id"])

        if matched_components:
            matched_components = _retain_phrase(matched_components)

        # micro-status reconcile (pipeline.py:249-256)
        covered: set = set()
        for cm in component_matches:
            possible = cm["term"] + ":" + cm["id"]
            if possible in matched_components and possible not in covered:
                covered.add(possible)
                micro_status.append("{%s: %s}" % (cm["term"], cm["status"]))

        if matched_components:
            macro_status = "Component Match"

    if classify:
        from lexmapr_spark.classification import classify_sample
        cls = classify_sample(sample, matched_components, lex)
        res.lexmapr_classification = cls["lexmapr_hierarchy_buckets"]
        res.lexmapr_bucket = cls["lexmapr_final_buckets"]
        res.third_party_bucket = cls["ifsac_final_buckets"]
        res.third_party_classification = cls["ifsac_final_labels"]
        third_party_classification = cls["ifsac_final_labels"]

    # unmangled (label, id) pairs for the KG path (ids never contain
    # ':', so last-colon split is exact here)
    res.matched_pairs = [
        (m.rpartition(":")[0], m.rpartition(":")[2].upper())
        for m in matched_components
    ]
    # standardize ids for display (pipeline_helpers.py:555-574) —
    # including the reference's split(":")[1] quirk on colon-labels
    res.matched_components = [
        m.split(":")[0] + ":" + m.split(":")[1].upper() for m in matched_components
    ]
    res.macro_status = macro_status

    # refine_sample_sc_name (pipeline_helpers.py:175-195)
    if "gallus" in sample or (
            "dog" in sample and "companion animal" not in str(third_party_classification)):
        annotated = cleaned

    res.processed_sample = cleaned
    res.processed_sample_sci_name = annotated
    return res


def format_output_row(res: MatchResult, full: bool = True,
                      bucket: bool = False) -> list:
    """:func:`format_wide_cells` over one :class:`MatchResult`."""
    return format_wide_cells(
        res.sample_id, res.sample_desc, res.processed_sample,
        res.processed_sample_sci_name, res.matched_components,
        res.macro_status, res.micro_status, res.transformations.items(),
        str(res.lexmapr_classification), str(res.lexmapr_bucket),
        str(res.third_party_bucket), res.third_party_classification,
        full=full, bucket=bucket)
