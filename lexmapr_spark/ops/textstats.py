"""Text-analysis operators: language-ID, quality scoring, token
counting, fingerprinting. All built-in-expression (JVM) — no Python in
the hot path — and reproducible in the DuckDB oracle."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lexmapr_spark.ops.dedup import tokens_col
from lexmapr_spark.ops.util import fan_out

# Small marker-word lists for the n-gram/stopword language heuristic.
# Deterministic and oracle-reproducible (inlined in SQL as literals).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def token_count(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                tokenizer=None) -> DataFrame:
    """Whitespace token count + a BPE-ish subword proxy count
    (alnum runs + individual punctuation marks).

    ``tokenizer``: injectable hook (the same pattern as the
    injectable POS tagger in ``confidence.py``) — a callable taking
    the text Column and returning an ``array<string>`` Column, so a
    real tokenizer can replace the whitespace default without
    touching the operator. Works with pure-JVM expressions or an
    Arrow-batched ``pandas_udf`` column; default =
    :func:`lexmapr_spark.ops.dedup.tokens_col` (byte-identical to the
    historical behavior, which is what the DuckDB oracle checks)."""
    docs = fan_out(docs)
    tok = (tokenizer or tokens_col)(F.col(text_col))
    subword = F.size(F.filter(
        F.split(F.regexp_replace(
            F.col(text_col), r"([^\sA-Za-z0-9])", r" $1 "), r"\s+"),
        lambda x: x != F.lit("")))
    return docs.select(
        F.col(id_col),
        F.size(tok).alias("n_tokens"),
        subword.alias("n_subword_tokens"),
    )


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row dataset card: doc/byte/token totals, token-length
    moments, distinct-text count, vocabulary size — the numbers every
    training-data release reports.

    Scale shape: one pass of scalar aggregates (map-side combined;
    the distinct-text count is a distinct-agg over the text md5, so
    the shuffle carries hashes, not documents) cross-joined with the
    one-row vocabulary count (explode -> partial-aggregated distinct
    — the word-count shuffle shape). Two corpus scans total, both
    embarrassingly parallel, no driver-side data.
    """
    toks = tokens_col(text_col)
    n_tok = F.size(toks)
    scalars = fan_out(docs).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length(text_col)).cast("bigint")
         .alias("total_bytes"),
        F.sum(n_tok).cast("bigint").alias("total_tokens"),
        F.round(F.avg(n_tok), 6).alias("mean_tokens"),
        F.max(n_tok).alias("max_tokens"),
        F.countDistinct(F.md5(F.col(text_col)))
         .alias("n_distinct_texts"))
    vocab = (fan_out(docs).select(F.explode(toks).alias("t"))
             .agg(F.countDistinct("t").alias("vocab_size")))
    return scalars.crossJoin(vocab)


def _quality_cols(text_col: str) -> dict:
    """Named quality-feature Column expressions (shared by
    ``quality_score`` and the single-projection ``curate``)."""
    toks = tokens_col(text_col)
    n_chars = F.length(text_col).cast("double")
    alpha_ratio = F.when(n_chars > 0,
                         F.length(F.regexp_replace(
                             F.col(text_col), r"[^A-Za-z]", "")) / n_chars
                         ).otherwise(F.lit(0.0))
    n_tokens = F.size(toks).cast("double")
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in EN_STOPWORDS]))).cast("double")
    stop_ratio = F.when(n_tokens > 0, stop_hits / F.lit(float(len(EN_STOPWORDS)))
                        ).otherwise(F.lit(0.0))
    mean_tok_len = F.when(n_tokens > 0,
                          (F.length(F.concat_ws("", toks)) / n_tokens)
                          ).otherwise(F.lit(0.0))
    score = (F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.25
             + alpha_ratio * 0.35 + stop_ratio * 0.25
             + F.least(mean_tok_len / F.lit(8.0), F.lit(1.0)) * 0.15)
    return {"alpha_ratio": alpha_ratio, "stop_ratio": stop_ratio,
            "mean_tok_len": mean_tok_len, "quality": score}


def quality_score(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features + combined score.

    Features mirror standard web-corpus filters: length, alphabetic
    ratio, stop-word ratio (fluency proxy), mean token length.
    """
    docs = fan_out(docs)
    qc = _quality_cols(text_col)
    return docs.select(
        F.col(id_col),
        *[F.round(qc[name], 6).alias(name)
          for name in ("alpha_ratio", "stop_ratio", "mean_tok_len",
                       "quality")],
    )


def _lang_pred_col(text_col: str):
    """Marker-stopword language heuristic as one Column expression:
    argmax of per-language hit counts over distinct tokens,
    deterministic tie-break by language code order, 'und' when nothing
    hits."""
    distinct_toks = F.array_distinct(tokens_col(text_col))
    hit_cols = {
        lang: F.size(F.array_intersect(
            distinct_toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_MARKERS.items()
    }
    best = F.greatest(*hit_cols.values())
    # fold in reverse code order so the alphabetically-first language
    # wins ties (the outermost WHEN is evaluated first)
    expr = F.lit("und")
    for lang in reversed(sorted(LANG_MARKERS)):
        expr = F.when((hit_cols[lang] > 0) & (hit_cols[lang] == best),
                      F.lit(lang)).otherwise(expr)
    return expr


def lang_id(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Language-ID per document (see ``_lang_pred_col``)."""
    docs = fan_out(docs)
    return docs.select(F.col(id_col),
                       _lang_pred_col(text_col).alias("lang_pred"))


def _fingerprint_col(text_col: str):
    """Order-insensitive fingerprint: md5 over the sorted distinct
    token set (the classic 'fingerprint' dedup key)."""
    return F.md5(F.concat_ws(" ", F.array_sort(
        F.array_distinct(tokens_col(text_col)))))


def fingerprint(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    docs = fan_out(docs)
    return docs.select(F.col(id_col),
                       _fingerprint_col(text_col).alias("fingerprint"))


def curate(docs: DataFrame, min_quality: float = 0.3, lang: str = "en",
           id_col: str = "doc_id", text_col: str = "text",
           max_dup_word_frac: float | None = None,
           probes: DataFrame | None = None,
           contamination_n: int = 8) -> DataFrame:
    """End-to-end training-data curation: language filter -> quality
    gate -> optional Gopher repetition gate -> optional benchmark
    decontamination -> fingerprint dedup (lowest id survives).

    Composition matters at 100 TB: joining per-op DataFrames back on
    doc_id would shuffle the corpus once per op; here lang / quality /
    fingerprint (and the optional ``dup_word_frac``) are sibling
    expressions in a single scan-side projection, every filter cuts
    the data BEFORE the fingerprint-keyed shuffle, and the stateless
    part stays in whole-stage codegen (the repetition column adds one
    Arrow stage, still shuffle-free). Decontamination
    (``probes`` given) broadcast-probes the benchmark n-grams against
    the already-gated survivors and anti-joins the (small) hit-id set
    back — strategy left to AQE. With the optional stages off, the
    plan is the pinned 0-join / 1-Exchange shape.

    The dedup keeper is ``min(struct(id, ...)) GROUP BY fingerprint``
    — the same map-side-combinable aggregate as
    :func:`lexmapr_spark.ops.dedup.global_line_dedup`: a boilerplate
    page mirrored 10^8 times across a crawl has ONE fingerprint, and
    partial aggregation collapses every upstream partition's copies to
    one candidate row BEFORE the exchange, so the hottest key's
    reducer sees at most one row per partition. (The naive
    ``min(id) OVER (PARTITION BY fingerprint)`` window funnels all
    10^8 copies into a single task, and AQE cannot split a window
    partition.) The aggregate's output rows ARE the survivors — id
    is the struct's first field and unique, so the lexicographic
    struct-min is exactly the lowest-id row with its own lang/quality
    values; no join-back needed.
    """
    docs = fan_out(docs)
    cols = [
        F.col(id_col),
        _lang_pred_col(text_col).alias("lang_pred"),
        F.round(_quality_cols(text_col)["quality"], 6).alias("quality"),
        _fingerprint_col(text_col).alias("fingerprint"),
    ]
    out_cols = [id_col, "lang_pred", "quality", "fingerprint"]
    gates = (F.col("lang_pred") == lang) & (F.col("quality") >= min_quality)
    if max_dup_word_frac is not None:
        cols.append(repetition_stats_col(text_col)
                    .getField("dup_word_frac").alias("dup_word_frac"))
        out_cols.append("dup_word_frac")
        gates = gates & (F.col("dup_word_frac") <= max_dup_word_frac)
    if probes is not None:
        cols.append(F.col(text_col))

    passed = docs.select(*cols).where(gates)

    if probes is not None:
        probe_grams = (probes.select(
            F.explode(ngrams_col(text_col, contamination_n)).alias("gram"))
            .distinct())
        hits = (passed
                .select(F.col(id_col),
                        F.explode(ngrams_col(text_col, contamination_n))
                         .alias("gram"))
                .join(F.broadcast(probe_grams), "gram")
                .select(id_col).distinct())
        passed = passed.join(hits, id_col, "left_anti").drop(text_col)

    keep_cols = [c for c in out_cols if c != "fingerprint"]
    # Note on the aggregate class: min over a STRUCT always plans as
    # SortAggregate (struct buffers aren't fixed-width mutable, even
    # with all-numeric fields — verified by plan). That's fine here:
    # SortAggregate still performs the map-side PARTIAL step, which is
    # the property that kills the hot-key funnel, and the r4 line-
    # dedup A/B measured struct-min at ~7x faster than the window it
    # replaced and ~25% faster than a DECIMAL-packed single-column
    # min that would have hash-aggregated.
    return (passed.groupBy("fingerprint")
            .agg(F.min(F.struct(*[F.col(c) for c in keep_cols]))
                  .alias("_k"))
            .select(*[F.col(f"_k.{c}").alias(c) for c in keep_cols],
                    "fingerprint")
            .select(*out_cols))


def ngrams_col(text_col: str, n: int):
    """Word n-grams of the whitespace-token stream, space-joined —
    pure JVM expression. Standard n-gram semantics: a text with fewer
    than ``n`` tokens yields NO n-grams (unlike the dedup shingle
    builder, which deliberately emits one whole-doc shingle so short
    docs still get MinHash signatures); decontamination must not
    silently compare a truncated gram that no ``n``-gram of a probe
    can ever equal. The CASE guard matters because Spark's
    ``sequence(1, 0)`` counts DOWN, not empty."""
    # the token array is BOUND ONCE as a lambda variable ``t`` via a
    # single-element transform (r9): inlining the filter+split
    # expression into the per-gram slice() re-tokenized the text once
    # per gram — O(tokens * grams) string splitting per row (the same
    # pathology as dedup._shingles_from_tokens, fixed the SQL-string
    # way here). Same gram strings, same guards.
    toks = f"filter(split({text_col}, ' '), x -> x != '')"
    return F.expr(
        f"element_at(transform(array({toks}), t -> "
        f"CASE WHEN size(t) < {n} THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE filter(transform(sequence(1, size(t) - {n - 1}),"
        f" i -> concat_ws(' ', slice(t, i, {n}))), s -> s != '') END), 1)")


def ngram_contamination(docs: DataFrame, probes: DataFrame, n: int = 8,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        warn_short_probes: bool = True) -> DataFrame:
    """Benchmark-contamination detector: per document, how many
    distinct ``n``-grams it shares with the probe corpus (eval/test
    texts that must not leak into training data).

    The standard decontamination shape at scale: the probe side is
    small (a benchmark suite — thousands of docs), so its distinct
    n-gram set is BROADCAST; the training corpus explodes into
    (doc, n-gram) pairs that stream through the broadcast hash join
    with no shuffle of the big side, then a map-side-combinable
    distinct-count per doc. Returns (id, n_contaminated_ngrams) for
    docs with at least one hit; drop (anti-join) or review downstream.

    Probes SHORTER than ``n`` tokens contribute no n-grams and are
    therefore not screened by this operator (standard n-gram
    decontamination semantics; an identical-short-text match was the
    only case the pre-round-4 truncated-gram behavior caught, and it
    caught nothing else). If your benchmark suite contains sub-``n``
    probes, screen them separately — e.g. exact text match via
    :func:`fingerprint` or a smaller ``n``. ``warn_short_probes``
    (default on) counts them — the probe side is benchmark-suite-
    sized, so the extra probe-only job is trivial — and emits a
    warning naming the gap; pass ``False`` in hot loops once audited.
    """
    if warn_short_probes:
        import warnings

        n_short = probes.where(
            F.size(F.expr(f"filter(split({text_col}, ' '), "
                          "x -> x != '')")) < n).count()
        if n_short:
            warnings.warn(
                f"ngram_contamination: {n_short} probe text(s) have "
                f"fewer than n={n} tokens and contribute NO n-grams — "
                "they are not screened by this operator; cover them "
                "with an exact-match pass (fingerprint) or a smaller "
                "n. Pass warn_short_probes=False to silence.",
                stacklevel=2)
    probe_grams = (probes.select(
        F.explode(ngrams_col(text_col, n)).alias("gram")).distinct())
    doc_grams = fan_out(docs).select(
        F.col(id_col), F.explode(ngrams_col(text_col, n)).alias("gram"))
    return (doc_grams.join(F.broadcast(probe_grams), "gram")
            .groupBy(id_col)
            .agg(F.countDistinct("gram").alias("n_contaminated_ngrams")))


def ngram_counts(docs: DataFrame, n: int = 3, min_count: int = 2,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Corpus-wide word n-gram statistics: for every ``n``-gram seen at
    least ``min_count`` times, its total occurrence count and the
    number of distinct documents containing it.

    The LM-data workhorse behind count-based language models,
    boilerplate mining ("which 5-grams appear in 10^6 pages?") and
    contamination audits. Returns ``(ngram, total_count, n_docs)``.

    Scale shape: two stacked aggregations, both map-side combined —
    first ``(ngram, doc)`` partial counts collapse each document's
    repeats before ANY shuffle, then the per-ngram rollup sums
    occurrence counts and counts rows (= distinct docs) without a
    ``countDistinct`` expansion. Hot boilerplate grams (the skew case:
    a cookie banner in 10^8 pages) arrive at the final shuffle as one
    pre-aggregated row per upstream partition, never as raw pairs.
    The ``min_count`` filter runs after the rollup (HAVING) — at
    100 TB pair with a count-min/heavy-hitters pre-pass if the
    long-tail output itself is the bottleneck, or use
    :func:`ngram_topk` when only the head is wanted.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    per_doc = (fan_out(docs)
               .select(F.col(id_col),
                       F.explode(ngrams_col(text_col, n)).alias("ngram"))
               .groupBy("ngram", id_col)
               .agg(F.count(F.lit(1)).alias("c")))
    return (per_doc.groupBy("ngram")
            .agg(F.sum("c").alias("total_count"),
                 F.count(F.lit(1)).alias("n_docs"))
            .where(F.col("total_count") >= min_count))


def ngram_topk(docs: DataFrame, n: int = 3, k: int = 100,
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Top-``k`` heavy-hitter n-grams by total occurrence count (ties
    broken by the gram itself, so the result is deterministic).

    Same two-stage aggregate as :func:`ngram_counts`; the global
    ``k``-row head rides Spark's TakeOrderedAndProject (each task
    keeps only its own top ``k``, the driver merges P×k rows — no
    full sort, no single-task sort of the long tail).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return (ngram_counts(docs, n=n, min_count=1, id_col=id_col,
                         text_col=text_col)
            .orderBy(F.desc("total_count"), F.asc("ngram"))
            .limit(k))


def pmi_collocations(docs: DataFrame, min_count: int = 5, k: int = 100,
                     text_col: str = "text") -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information —
    ``ln(p(a,b) / (p(a) * p(b)))`` over adjacent whitespace-token
    pairs, the standard corpus-statistics collocation extractor
    (Church & Hanks 1990). The reference ships dormant wiki
    collocation resources (adjudicated dead code); this is the
    live Spark-first form of that capability.

    Returns ``(bigram, pair_count, pmi)`` for bigrams seen at least
    ``min_count`` times, highest PMI first (ties: bigram ascending).

    Scale shape: two map-side-combined aggregations (unigram counts,
    bigram counts) over one logical corpus scan each; corpus totals
    ride a broadcast 1-row frame; the unigram side joins onto the
    bigram table WITHOUT a broadcast hint (vocabulary can exceed
    driver memory at 100 TB — AQE picks broadcast when it fits).
    ``min_count`` prunes the bigram long tail BEFORE both joins, and
    the k-row head is TakeOrderedAndProject. PMI is rounded to 6 dp
    (the ordering key), so results are cross-engine deterministic.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))
    uni = (fan_out(docs)
           .select(F.explode(toks).alias("token"))
           .groupBy("token").agg(F.count(F.lit(1)).alias("c")))
    totals = (docs.agg(
        F.sum(F.size(toks)).alias("total_toks"),
        F.sum(F.when(F.size(toks) > 1, F.size(toks) - 1).otherwise(0))
         .alias("total_pairs")))
    bi = (fan_out(docs)
          .select(F.explode(ngrams_col(text_col, 2)).alias("bigram"))
          .groupBy("bigram").agg(F.count(F.lit(1)).alias("pair_count"))
          .where(F.col("pair_count") >= min_count))
    parts = F.split("bigram", " ", 2)
    bi = bi.select("bigram", "pair_count",
                   parts.getItem(0).alias("_a"), parts.getItem(1).alias("_b"))
    joined = (bi
              .join(uni.select(F.col("token").alias("_a"),
                               F.col("c").alias("c_a")), "_a")
              .join(uni.select(F.col("token").alias("_b"),
                               F.col("c").alias("c_b")), "_b")
              .crossJoin(F.broadcast(totals)))
    p_ab = F.col("pair_count").cast("double") / F.col("total_pairs")
    p_a = F.col("c_a").cast("double") / F.col("total_toks")
    p_b = F.col("c_b").cast("double") / F.col("total_toks")
    return (joined
            .select("bigram", "pair_count",
                    F.round(F.log(p_ab / (p_a * p_b)), 6).alias("pmi"))
            .orderBy(F.desc("pmi"), F.asc("bigram"))
            .limit(k))


# PII patterns written to the RE2-compatible subset (no backrefs, no
# lookaround) so Spark's Java regex and DuckDB's RE2 match identically;
# replacement order is fixed (emails first, so phone can't eat an
# address's digits)
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b"),
    # literal space in the class (not \s: Java and RE2 disagree on
    # vertical tab); counts are per-kind on the RAW text, so an IPv4
    # also counts as phone-like — redaction order disambiguates
    ("phone", r"\+?\d[\d ().-]{7,}\d"),
]


def redact_pii(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Training-data PII scrub: replace emails, IPv4 addresses, and
    phone-like digit runs with ``<EMAIL>``/``<IPV4>``/``<PHONE>``
    tokens and count the redactions per kind.

    Pure JVM (regexp_replace / regexp_count inside whole-stage
    codegen) — the canonical shape for a 100 TB scrub pass: a narrow
    projection, no shuffle, patterns in the RE2 subset so the same
    pass is reproducible on any engine (DuckDB oracle value-checks
    every redacted byte and count).
    """
    docs = fan_out(docs)
    redacted = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS:
        # regexp_count takes the pattern as a literal column — no SQL
        # string-escaping round trip for the backslashes
        counts.append(F.regexp_count(F.col(text_col), F.lit(pat))
                      .alias(f"n_{name}"))
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return docs.select(F.col(id_col), redacted.alias("redacted_text"),
                       *counts)


# ---------------------------------------------------------------------------
# Repetition statistics (Gopher-style quality rules)
# ---------------------------------------------------------------------------

def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     line_sep: str = "\n") -> DataFrame:
    """Per-document repetition measures from the published Gopher
    quality rules (Rae et al. 2021, "Scaling Language Models", §A1.1):

    - ``dup_line_frac``       lines that duplicate an earlier line / lines
    - ``dup_line_char_frac``  chars in those duplicate lines / chars
    - ``dup_word_frac``       repeated-token occurrences / tokens
    - ``max_word_frac``       occurrences of the most frequent token / tokens
    - ``top_2gram_char_frac`` chars covered by the most frequent word
      2-gram / chars (most-frequent ties broken lexicographically)

    Shape for 100 TB: every stat is per-row, so this is ONE
    Arrow-vectorized ``pandas_udf`` over a narrow (id, text)
    projection — zero shuffle, embarrassingly parallel. A builtin-only
    alternative exists but is strictly worse at scale: per-row
    frequency tables in Catalyst require either a quadratic
    ``transform(distinct, g -> count-in-array)`` per document or an
    explode -> groupBy(doc, gram) -> re-aggregate pipeline (two
    corpus-sized shuffles). Counter-per-doc streams in O(tokens).
    The DuckDB oracle recomputes every stat independently with
    unnest + window SQL (q:``text_repetition``).
    """
    docs = fan_out(docs)
    out = docs.select(F.col(id_col),
                      repetition_stats_col(text_col, line_sep).alias("s"))
    return out.select(id_col, "s.*")


def repetition_stats_col(text_col: str = "text",
                         line_sep: str = "\n"):
    """The :func:`repetition_stats` struct as a reusable column —
    per-row and stateless, so it drops into any projection (the
    ``curate`` gate, :func:`repetition_stats`) with no shuffle."""
    empty_frac = 0.0

    @F.pandas_udf("struct<dup_line_frac:double, dup_line_char_frac:double,"
                  " dup_word_frac:double, max_word_frac:double,"
                  " top_2gram_char_frac:double>")
    def _stats(texts: pd.Series) -> pd.DataFrame:
        from collections import Counter

        rows = []
        for text in texts:
            text = text if text is not None else ""
            lines = text.split(line_sep)
            line_counts = Counter(lines)
            n_lines = len(lines)
            dup_lines = sum(c - 1 for c in line_counts.values())
            dup_line_chars = sum(len(ln) * (c - 1)
                                 for ln, c in line_counts.items())
            n_chars = len(text)

            toks = [t for t in text.split(" ") if t != ""]
            n_toks = len(toks)
            tok_counts = Counter(toks)
            if n_toks:
                dup_word = (n_toks - len(tok_counts)) / n_toks
                max_word = max(tok_counts.values()) / n_toks
            else:
                dup_word = max_word = empty_frac

            grams = [" ".join(toks[i:i + 2]) for i in range(n_toks - 1)]
            if grams and n_chars:
                gcounts = Counter(grams)
                # deterministic tie-break: highest count, then
                # lexicographically smallest gram
                bc = max(gcounts.values())
                bg = min(g for g, c in gcounts.items() if c == bc)
                top2 = len(bg) * gcounts[bg] / n_chars
            else:
                top2 = empty_frac

            rows.append((
                round(dup_lines / n_lines, 6) if n_lines else empty_frac,
                round(dup_line_chars / n_chars, 6) if n_chars else empty_frac,
                round(dup_word, 6),
                round(max_word, 6),
                round(top2, 6),
            ))
        return pd.DataFrame(rows, columns=[
            "dup_line_frac", "dup_line_char_frac", "dup_word_frac",
            "max_word_frac", "top_2gram_char_frac"])

    return _stats(F.col(text_col))


# ---------------------------------------------------------------------------
# Unigram-LM perplexity proxy
# ---------------------------------------------------------------------------

def unigram_lm(docs: DataFrame, text_col: str = "text",
               top_k: int | None = None,
               tokenizer=None) -> DataFrame:
    """Corpus unigram language model: (token, logprob) with
    ``p(tok) = count(tok) / total_tokens`` and logprob rounded to 6
    decimals (cross-engine determinism: a rounded double survives the
    decimal sums downstream identically in Spark and DuckDB).

    One corpus-sized shuffle (explode -> groupBy token), map-side
    combined — the canonical word-count shape. ``top_k`` bounds the
    vocabulary for the 100 TB path (order by count desc, token asc —
    deterministic); everything outside the kept vocab scores as OOV
    downstream. ``tokenizer``: the same injectable hook as
    ``token_count``/``pack_sequences`` (e.g. ``bpe.bpe_tokenizer()``)
    so the LM's unit matches the packing/counting unit; default =
    whitespace (byte-identical to the oracle-checked behavior).
    """
    toks = fan_out(docs).select(
        F.explode((tokenizer or tokens_col)(F.col(text_col)))
        .alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("c"))
    # total BEFORE any top-k truncation; shares the groupBy exchange
    # with the counts branch (ReusedExchange — one corpus scan, no
    # driver-side action)
    total_df = counts.agg(F.sum("c").alias("lm_total"))
    if top_k is not None:
        counts = (counts.orderBy(F.desc("c"), F.asc("token"))
                  .limit(top_k))
    return (counts.crossJoin(F.broadcast(total_df))
            .select("token",
                    F.round(F.log(F.col("c") / F.col("lm_total")), 6)
                     .alias("logprob"),
                    "lm_total"))


def perplexity(docs: DataFrame, lm: DataFrame | None = None,
               id_col: str = "doc_id", text_col: str = "text",
               tokenizer=None) -> DataFrame:
    """Per-document cross-entropy + perplexity under a unigram LM —
    the standard cheap quality proxy for training-data curation
    (CCNet-style filtering, with a unigram model instead of KenLM).

    ``lm`` defaults to ``unigram_lm(docs)`` (self-scored corpus),
    PERSISTED: the LM is vocabulary-sized, and caching it pins the
    whole op at exactly two corpus scans (one to build the LM, one to
    score) no matter how many consumers reference it — the lazy
    alternative re-derives the count shuffle per consumer and only
    AQE's runtime exchange reuse claws some of it back. At real scale
    you would ``lm.write.parquet(...)`` instead; pass the reloaded
    frame as ``lm``. OOV tokens score ``ln(1 / (total + 1))``. Docs
    with zero tokens are dropped (no distribution to score).

    Scale shape: explode -> hash join tokens to the LM -> one
    map-side-combinable groupBy(doc). The LM side is always
    BROADCAST, which suits the usual capped/``top_k`` vocabulary; an
    uncapped vocabulary too large to broadcast needs a shuffle join
    instead. Per-doc sums use DECIMAL(28,6) so the result is
    independent of partitioning/summation order — then one double
    division + exp at the end, rounded to 6.
    """
    if lm is None:
        # scoped: each perplexity call releases the previous
        # self-built LM snapshot (ops.util.release_cache frees it
        # eagerly), so long-lived sessions hold at most one; eviction
        # is silent here because a recomputed LM is deterministic from
        # the (token, count) aggregate — there is no snapshot-
        # consistency risk, unlike pack_sequences(snapshot=True)
        from lexmapr_spark.ops.util import scoped_persist
        lm = scoped_persist(
            unigram_lm(docs, text_col=text_col, tokenizer=tokenizer),
            "perplexity_lm", warn_on_evict=False)
    # OOV logprob as a lazy 1-row broadcast — no driver-side action,
    # so the whole op stays one job
    oov_df = lm.groupBy().agg(
        F.round(F.log(1.0 / (F.max("lm_total") + 1.0)), 6)
         .cast("decimal(28,6)").alias("oov_lp"))

    lm_side = F.broadcast(lm.select(
        "token", F.col("logprob").cast("decimal(28,6)").alias("logprob")))
    doc_toks = fan_out(docs).select(
        F.col(id_col),
        F.explode((tokenizer or tokens_col)(F.col(text_col)))
        .alias("token"))
    joined = (doc_toks.join(lm_side, "token", "left")
              .crossJoin(F.broadcast(oov_df))
              .select(id_col,
                      F.coalesce("logprob", "oov_lp").alias("lp")))
    per_doc = joined.groupBy(id_col).agg(
        F.sum("lp").alias("sum_lp"), F.count("*").alias("n_tokens"))
    ce = -(F.col("sum_lp").cast("double") / F.col("n_tokens"))
    return per_doc.select(
        id_col, "n_tokens",
        F.round(ce, 6).alias("cross_entropy"),
        F.round(F.exp(F.round(ce, 6)), 6).alias("perplexity"))
