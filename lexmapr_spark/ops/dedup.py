"""Deduplication operators for large-scale training-data pipelines.

All hot paths use built-in JVM expressions (no Python UDFs) so they
stay inside whole-stage codegen; hashes are md5-based so the DuckDB
oracle can reproduce values bit-for-bit.

Scale design: exact dedup is a single hash-aggregate (map-side
combined). MinHash-LSH turns the O(n^2) near-dup problem into
band-bucket joins: docs only meet if they share a band key, and AQE
skew handling splits pathological buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lexmapr_spark.ops.util import fan_out

N_MINHASHES = 8
ROWS_PER_BAND = 2
N_BANDS = N_MINHASHES // ROWS_PER_BAND


def minhash_token_hash(tok: Column, j: int) -> Column:
    """The per-(token, hash-family) hash every MinHash path uses:
    fold 15 hex digits of ``md5("j:" + tok)`` into a 60-bit long.

    Single source of truth — :func:`minhash_signatures` and
    :func:`minhash_index` must produce byte-identical signatures or
    stored indexes silently stop matching; sharing the expression pins
    them together."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{j}:"), tok)), 1, 15),
        16, 10).cast("long")


def band_key_exprs(mh, n_hashes: int = N_MINHASHES,
                   rows_per_band: int = ROWS_PER_BAND) -> list:
    """LSH band-key columns ``"b:" + md5(mh(i) | mh(i+1) | ...)`` —
    ``mh`` is a callable ``j -> Column`` giving the j-th signature
    component. Shared by the in-corpus band join and the stored-index
    probe (same silent-mismatch hazard as :func:`minhash_token_hash`)."""
    n_bands = n_hashes // rows_per_band
    return [
        F.concat_ws(":", F.lit(str(b)), F.md5(F.concat_ws("|", *[
            mh(b * rows_per_band + r) for r in range(rows_per_band)
        ])))
        for b in range(n_bands)
    ]


def tokens_col(text: str | Column = "text") -> Column:
    """Whitespace tokens with empties removed (cross-engine stable)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, " "), lambda x: x != F.lit(""))


SHINGLE_N = 3


def shingles_col(text: str | Column = "text") -> Column:
    """Overlapping 3-word shingles (order-sensitive n-grams).

    MinHash over shingles, not unigram tokens: token SETS degenerate
    on shared-vocabulary corpora (every long doc looks like every
    other), while shingles encode word order. Uses 1-based
    ``element_at`` + null-skipping ``concat_ws`` so the identical SQL
    shape reproduces in DuckDB (docs shorter than 3 tokens yield one
    whole-doc shingle)."""
    col = F.col(text) if isinstance(text, str) else text
    return _shingles_from_tokens(tokens_col(col))


def _shingles_from_tokens(toks: Column) -> Column:
    # shifted-slice zip, NOT per-index try_element_at (r9): the old
    # transform(sequence(...), i -> element_at(toks, i+j)) re-evaluated
    # the WHOLE ``toks`` expression (filter+split over the text) inside
    # every lambda element — O(tokens^2) splits per row once callers
    # pass the usual inline tokens_col(...) expression. Three shifted
    # slices evaluate ``toks`` a constant number of times and zip pads
    # the tail with NULLs, which concat_ws skips — byte-identical
    # shingle strings (same windows, same short-doc whole-doc shingle,
    # same empty-doc empty list; pinned by test_shingles_slice_form).
    n = F.greatest(F.size(toks) - (SHINGLE_N - 1), F.lit(1))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, n)
                            for j in range(SHINGLE_N)])
    return F.filter(
        F.transform(zipped, lambda s: F.concat_ws(
            " ", *[s[str(j)] for j in range(SHINGLE_N)])),
        lambda s: s != F.lit(""))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (text_md5, n_dupes, keeper_id).

    One hash-aggregate; Spark applies partial aggregation before the
    shuffle, so at 100 TB the shuffle carries one row per distinct
    text per input partition, not one per document.
    """
    docs = fan_out(docs)
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(F.count("*").alias("n_dupes"),
             F.min(id_col).alias("keeper_id"))
        .where(F.col("n_dupes") > 1)
    )


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       n_hashes: int = N_MINHASHES) -> DataFrame:
    """Per-doc MinHash signature over the 3-word-shingle set.

    minhash_j = min over shingles of the first 60 bits of
    md5("<j>:" + shingle), as a BIGINT — deterministic and
    reproducible in any engine with md5 (DuckDB:
    ``('0x' || substr(md5(..), 1, 15))::BIGINT``).

    Numeric (not hex-string) minima on purpose: Spark's HashAggregate
    needs fixed-width mutable buffers, so ``min(string)`` silently
    falls back to SortAggregate — per-partition sorts of the exploded
    shingle table that spill under memory pressure (measured 1.3 s ->
    9 s on a warm 32-core session at sf0.1). Longs keep the whole
    aggregation in vectorized HashAggregate and shrink the partial
    shuffle rows ~4x. 15 hex chars (60 bits), not 16, so the value is
    always positive in a signed 64-bit long in both engines.

    Explode + single groupBy with n_hashes min-aggregates (all
    map-side combinable). No pre-dedup of the exploded (doc, shingle)
    table: ``min`` is duplicate-insensitive, and a ``.distinct()``
    here would shuffle the largest intermediate in the pipeline a
    second time for nothing.
    """
    docs = fan_out(docs)
    toks = docs.select(F.col(id_col),
                       F.explode(shingles_col(text_col)).alias("tok"))
    aggs = [
        F.min(minhash_token_hash(F.col("tok"), j)).alias(f"mh{j}")
        for j in range(n_hashes)
    ]
    return toks.groupBy(id_col).agg(*aggs)


def signature_prefilter_bound(threshold: float,
                              n_hashes: int = N_MINHASHES,
                              rows_per_band: int = ROWS_PER_BAND
                              ) -> int | None:
    """Minimum matching-minhash count a candidate pair must show for
    its estimated Jaccard (matches / n_hashes) to be plausibly >=
    ``threshold``: ceil(n*t - 2.5*sigma) with sigma = sqrt(n*t*(1-t)),
    the Binomial(n_hashes, t) lower tail. Returns None when the bound
    is <= rows_per_band — every band collision already matches
    rows_per_band hashes, so the filter would be a no-op (this is what
    happens at low thresholds, where the filter would otherwise cost
    recall for nothing)."""
    import math

    t = max(0.0, min(1.0, threshold))
    bound = math.ceil(n_hashes * t
                      - 2.5 * math.sqrt(n_hashes * t * (1.0 - t)))
    return bound if bound > rows_per_band else None


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        n_bands: int = N_BANDS,
                        rows_per_band: int = ROWS_PER_BAND,
                        min_matching_hashes: int | None = None) -> DataFrame:
    """Banding: docs sharing any band key become a candidate pair.

    Self-join happens *within* band buckets only — the LSH trick that
    makes near-dup detection linear-ish instead of O(n^2).

    ``min_matching_hashes`` (r7): optional estimated-Jaccard
    pre-filter — a colliding pair survives only if at least that many
    of its full minhash values agree (matches / n_hashes is an
    unbiased Jaccard estimate). The signature columns ride through the
    band explode (n_hashes longs per row — narrow), so the check is a
    pure-codegen conjunction right on the band join output and random
    collisions die BEFORE the shingle sets are joined back for the
    exact verify. Derive the bound with
    :func:`signature_prefilter_bound`; None (default) keeps every
    collision.
    """
    n_hashes = n_bands * rows_per_band
    carry = [f"mh{j}" for j in range(n_hashes)] \
        if min_matching_hashes is not None else []
    stacked = signatures.select(
        F.col(id_col), *carry,
        F.explode(F.array(*band_key_exprs(
            lambda j: F.col(f"mh{j}"),
            n_hashes, rows_per_band))).alias("band_key"),
    )
    a = stacked.alias("a")
    b = stacked.alias("b")
    joined = (
        a.join(b, "band_key")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if min_matching_hashes is not None:
        matched = None
        for j in range(n_hashes):
            piece = (F.col(f"a.mh{j}") == F.col(f"b.mh{j}")).cast("int")
            matched = piece if matched is None else matched + piece
        joined = joined.where(matched >= F.lit(int(min_matching_hashes)))
    return (
        joined
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_near_duplicates(docs: DataFrame, threshold: float = 0.7,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            prefilter: bool = True) -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard
    (n-gram Jaccard, n=3 word shingles).

    Returns (id_a, id_b, jaccard) for pairs >= threshold, Jaccard
    rounded to 6 dp for cross-engine comparability.

    Candidates are pre-screened on estimated Jaccard
    (:func:`signature_prefilter_bound` over the full signature — at
    the default threshold 0.7 / 8 hashes that demands >= 3 matching
    minima) so the wide shingle-set verify join only sees pairs with
    statistical support. A pair at EXACTLY the threshold has a
    <=0.2% chance of falling under the bound (Binomial lower tail,
    conditioned on the band collision it already has) — far below the
    banding recall haircut itself — and the DuckDB oracle applies the
    identical integer bound, so cross-engine parity is exact.
    ``prefilter=False`` restores the pre-r7 exact-verify-all-collisions
    behavior for back-compat runs whose outputs are compared against
    older kept sets (r7 ADVICE).
    """
    docs = fan_out(docs)
    sigs = minhash_signatures(docs, id_col, text_col)
    pairs = lsh_candidate_pairs(
        sigs, id_col,
        min_matching_hashes=(signature_prefilter_bound(threshold)
                             if prefilter else None))
    # verify on 60-bit HASHED shingles, not shingle strings (r7): the
    # per-pair array_intersect hashes every element of both arrays, and
    # doing that over ~40-char strings for millions of candidate pairs
    # dominated the deep-bench wall. 8-byte longs hash ~5x cheaper and
    # shrink the tokset shuffle ~4x. Jaccard over hashed distinct
    # shingles equals Jaccard over the strings barring a 60-bit
    # collision, and the DuckDB oracle applies the IDENTICAL
    # md5-prefix hash, so cross-engine parity is exact either way.
    hashed = F.transform(
        shingles_col(text_col),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
        .cast("long"))
    toksets = docs.select(
        F.col(id_col),
        F.array_distinct(hashed).alias("toks"))
    ta = toksets.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"))
    tb = toksets.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = (F.size("toks_a") + F.size("toks_b")
             - F.size(F.array_intersect("toks_a", "toks_b"))).cast("double")
    return (
        pairs.join(ta, "id_a").join(tb, "id_b")
        .select("id_a", "id_b",
                F.round(inter / union, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def near_duplicate_filter(docs: DataFrame, threshold: float = 0.7,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          keeper: str = "pairwise",
                          pairs: DataFrame | None = None,
                          prefilter: bool = True) -> DataFrame:
    """The curation consumer's view of near-dup detection: the KEPT
    corpus, not the pair list.

    ``keeper="pairwise"`` (default): for every verified near-dup pair
    (id_a < id_b), the higher id is dropped — so in any connected
    group the lowest id survives, and docs tied only transitively
    through a dropped doc are both kept (similarity evidence is
    pairwise, not transitive).

    ``keeper="component"``: the cluster-consistent policy real
    pipelines (C4, RefinedWeb) use — run connected components over the
    verified pair graph and keep exactly ONE doc (the min id) per dup
    cluster, so a size-3 transitive chain a~b, b~c keeps only a.
    Costs O(log diameter) extra join rounds
    (:func:`lexmapr_spark.engine.connected_components`, pointer-
    doubling) over the pair set — which is tiny relative to the
    corpus, so the added work is on the small side only.

    Either way the drop set is ids only; Spark broadcasts it when
    small (the common case — dup rates are a few percent), degrading
    to one id-keyed shuffle of the corpus when it isn't. AQE makes
    that choice at runtime.

    ``pairs``: pass a precomputed (id_a, id_b[, ...]) verified-pair
    DataFrame (e.g. :func:`jaccard_near_duplicates` output you also
    feed to :func:`near_duplicate_clusters`, or pairs read back from
    storage) to skip re-running the LSH pipeline; ``threshold`` is
    ignored in that case.
    """
    if pairs is None:
        pairs = jaccard_near_duplicates(docs, threshold, id_col, text_col,
                                        prefilter=prefilter)
    if keeper == "component":
        from lexmapr_spark.engine import connected_components
        comps = connected_components(pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
        drops = (comps.where(F.col("node") != F.col("component"))
                 .select(F.col("node").alias(id_col)))
    elif keeper == "pairwise":
        drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    else:
        raise ValueError(
            f"near_duplicate_filter: unknown keeper {keeper!r} "
            "(expected 'pairwise' or 'component')")
    return docs.join(drops, id_col, "left_anti")


def near_duplicate_clusters(docs: DataFrame, threshold: float = 0.7,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            pairs: DataFrame | None = None,
                            prefilter: bool = True) -> DataFrame:
    """Cluster assignments over the verified near-dup graph:
    (doc_id, cluster_id) for every document in at least one verified
    pair, where ``cluster_id`` is the component's min doc id — the
    materialized-graph view that `keeper="component"` filtering, dup
    auditing, and per-cluster stats all read from. Connected
    components run on the pair set only (tiny relative to the
    corpus), with pointer doubling so chain-shaped clusters cost
    O(log diameter) rounds. ``pairs``: precomputed verified-pair
    frame, as in :func:`near_duplicate_filter`."""
    from lexmapr_spark.engine import connected_components
    if pairs is None:
        pairs = jaccard_near_duplicates(docs, threshold, id_col, text_col,
                                        prefilter=prefilter)
    comps = connected_components(pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    return comps.select(F.col("node").alias(id_col),
                        F.col("component").alias("cluster_id"))


def simhash64(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document (token-level, md5-derived bits).

    Implemented as a vectorized Arrow-batched stage (numpy bit
    arithmetic per batch); this is a per-row map, so it stays
    shuffle-free. Near-dup = small Hamming distance between hashes.
    """
    import pandas as pd

    from lexmapr_spark.engine import ship_package
    ship_package(docs.sparkSession)
    docs = fan_out(docs)

    out_schema = f"{id_col} long, simhash long"

    def batches(it):
        import hashlib

        import numpy as np

        bit_idx = np.arange(64, dtype=np.uint64)
        token_bits: dict = {}  # token -> (+1/-1)^64 vector, memoized

        def bits_for(tok):
            b = token_bits.get(tok)
            if b is None:
                h = np.uint64(int.from_bytes(
                    hashlib.md5(tok.encode("utf-8")).digest()[:8], "big"))
                b = (((h >> bit_idx) & np.uint64(1)).astype(np.int64)
                     * 2 - 1)
                token_bits[tok] = b
            return b

        def sim(text):
            toks = set(t for t in (text or "").split(" ") if t)
            if not toks:
                return 0
            acc = np.zeros(64, dtype=np.int64)
            for t in toks:
                acc += bits_for(t)
            v = int(np.packbits((acc > 0)[::-1]).tobytes().hex() or "0", 16)
            # reinterpret as signed 64-bit for Spark LongType
            return v - (1 << 64) if v >= (1 << 63) else v

        for pdf in it:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "simhash": [sim(t) for t in pdf[text_col]],
            })

    return docs.select(id_col, text_col).mapInPandas(batches, out_schema)


def simhash_near_duplicates(docs: DataFrame, max_hamming: int = 3,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """SimHash near-dups via 4x16-bit block LSH (exact for hamming<=3).

    Pigeonhole: any pair within hamming distance 3 agrees on at least
    one of four 16-bit blocks, so block-equality buckets the join.
    """
    h = simhash64(docs, id_col, text_col)
    blocks = h.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*[
            # numeric key (block index in the high bits), not the old
            # "i:12345" string — same bucket identity, ~3x fewer
            # shuffle bytes per row (guide §2.3 narrower types).
            # bitwiseAND, not %: Spark's % keeps the dividend's sign,
            # which would give negative simhashes a different block-0
            # key and break the pigeonhole guarantee
            (F.shiftrightunsigned("simhash", 16 * i)
             .bitwiseAND(F.lit(65535)) + F.lit(i * 65536))
            .cast("long")
            for i in range(4)
        ])).alias("block_key"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    # emit each pair exactly once, at its FIRST matching block: block j
    # matches iff xor's j-th 16-bit block is zero, so require every
    # block below the joined one to differ. This replaces the r8
    # ``.distinct()`` — which shuffled every collision up to 4x,
    # including hamming>3 pairs that were filtered only afterwards —
    # with a pure-codegen predicate (guide §2.4 remove shuffles
    # outright); the hamming cut now also runs before any exchange.
    joined_block = F.shiftright(F.col("block_key"), 16)
    first_match = None
    for j in range(3):
        differs = (F.shiftrightunsigned(xor, 16 * j)
                   .bitwiseAND(F.lit(65535)) != 0)
        cond = (joined_block <= F.lit(j)) | differs
        first_match = cond if first_match is None else first_match & cond
    pairs = (
        a.join(b, "block_key")
        .where((F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
               & (F.bit_count(xor) <= max_hamming)
               & first_match)
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.bit_count(xor).alias("hamming"))
    )
    return pairs


# ---------------------------------------------------------------------------
# C4-style global line dedup (round 3)
# ---------------------------------------------------------------------------

def exact_substring_dedup(docs: DataFrame, gram_tokens: int = 50,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Chunked approximation of ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" §4.1;
    the RefinedWeb §3.3 policy): long token runs that repeat VERBATIM
    anywhere in the corpus survive only at their first occurrence —
    including runs that cross line boundaries, which
    :func:`global_line_dedup` cannot see.

    The exact algorithm is a corpus-wide suffix array — inherently
    sequential and memory-resident, the wrong shape for 100 TB. The
    standard distributed approximation chunks each document into
    NON-OVERLAPPING ``gram_tokens``-token grams (stride = gram size,
    so the explode is 1x the corpus, not 50x as stride-1 shingles
    would be) and dedups the gram text corpus-wide: a repeated run of
    >= 2x gram_tokens tokens is guaranteed to contain at least one
    repeated aligned chunk and gets cut; shorter repeats may survive
    (they are line-dedup / MinHash territory). Keeper selection reuses
    the :func:`global_line_dedup` machinery — ``min(struct(doc, chunk))
    GROUP BY gram`` is map-side-combinable, so a boilerplate passage
    repeated 10^8 times collapses to one candidate per upstream
    partition BEFORE the shuffle (no hot-key window anywhere).
    Sub-gram tails (and whole docs shorter than one gram) bypass the
    gram shuffle entirely and are always kept. Returns
    (id, deduped_text): documents that lose no chunk come back with
    their ORIGINAL text byte-for-byte (a dedup pass must not mutate
    untouched documents); documents that do lose chunks are rebuilt
    from the surviving chunks in order, single-space-joined — cut
    points already destroy local whitespace, so runs of whitespace
    in a CUT document collapse to single spaces (documented, matched
    by the DuckDB oracle).
    """
    g = int(gram_tokens)
    if g < 1:
        raise ValueError(f"gram_tokens must be >= 1, got {g}")
    base = docs.select(
        F.col(id_col), F.col(text_col).alias("_orig"),
        F.expr(f"filter(split({text_col}, ' '), x -> x != '')").alias("t"))
    # full aligned chunks; CASE guard because sequence(0, -1) counts
    # DOWN rather than producing an empty array
    chunk_arr = (
        f"CASE WHEN size(t) < {g} THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(0, size(t) div {g} - 1), "
        f"c -> concat_ws(' ', slice(t, c * {g} + 1, {g}))) END")
    chunks = base.select(
        F.col(id_col),
        F.posexplode(F.expr(chunk_arr)).alias("c", "gram"))
    kept = (chunks.groupBy("gram")
            .agg(F.min(F.struct(F.col(id_col), F.col("c"))).alias("k"))
            .select(F.col(f"k.{id_col}").alias(id_col),
                    F.col("k.c").alias("c"), "gram"))
    tail = (base
            .where((F.size("t") % g != 0) & (F.size("t") > 0))
            .select(
                F.col(id_col),
                F.expr(f"size(t) div {g}").alias("c"),
                F.expr(f"concat_ws(' ', slice(t, (size(t) div {g}) "
                       f"* {g} + 1, {g}))").alias("gram")))
    rebuilt = (kept.unionByName(tail)
               .groupBy(id_col)
               .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct(F.col("c"), F.col("gram")))),
                        lambda s: s.getField("gram")),
                    " ").alias("deduped_text"),
                    F.count(F.lit(1)).alias("_kept")))
    # untouched-doc fast path: if every chunk (full grams + tail)
    # survived, emit the original bytes — tokenize/rejoin must not
    # rewrite whitespace of documents the dedup never cut
    n_chunks = (F.expr(f"size(t) div {g}")
                + F.when(F.expr(f"size(t) % {g} != 0"), 1).otherwise(0))
    return (base.select(id_col, "_orig", n_chunks.alias("_n"))
            .join(rebuilt, id_col, "left")
            .select(id_col,
                    F.when(F.coalesce("_kept", F.lit(0)) == F.col("_n"),
                           F.col("_orig"))
                     .otherwise(F.coalesce("deduped_text", F.lit("")))
                     .alias("deduped_text")))


def exact_substring_dedup_cdc(docs: DataFrame, gram_tokens: int = 50,
                              min_tokens: int | None = None,
                              id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """ExactSubstr dedup with CONTENT-DEFINED chunking — closes the
    aligned variant's unaligned-duplicate gap.

    :func:`exact_substring_dedup` cuts chunks at fixed stride-``g``
    positions, so two copies of a long run whose token offsets differ
    by anything not ≡ 0 (mod g) produce different gram strings and
    the duplicate is missed. Here chunk boundaries come from the
    CONTENT instead (the rsync/CDC trick): a new chunk starts before
    token i whenever ``hash60(token_i) % g == 0`` — identical text
    therefore carries identical internal boundaries NO MATTER where
    it sits in a document, and both copies of a repeated run emit the
    same gram strings. Expected chunk length is ``g`` tokens
    (geometric); a repeated run long enough to contain one full
    content-defined chunk of >= ``min_tokens`` tokens (default g/2)
    is caught at ANY alignment. Chunks shorter than ``min_tokens``
    always survive (short repeats are line-dedup / MinHash
    territory, and tiny content-defined chunks would over-delete).

    Same scale shape as the aligned variant: one chunk-level explode
    (~1x the corpus), map-side-combinable ``min(struct)`` keeper, no
    Window over data-dependent keys; chunking itself is pure JVM
    higher-order functions (no Python). The md5-based cut hash is
    reproduced bit-for-bit by the DuckDB oracle. Documents with no
    internal cut marker form ONE chunk, so verbatim whole-document
    duplicates collapse to their first occurrence (later copies come
    back empty) — the Lee et al. policy applied at doc granularity.
    """
    g = int(gram_tokens)
    if g < 1:
        raise ValueError(f"gram_tokens must be >= 1, got {g}")
    mt = (g // 2 if min_tokens is None else int(min_tokens))
    docs = fan_out(docs)
    base = docs.select(
        F.col(id_col), F.col(text_col).alias("_orig"),
        F.expr(f"filter(split({text_col}, ' '), x -> x != '')").alias("t"))
    # 1-based chunk-start positions: always 1, plus every i >= 2 whose
    # token's 60-bit md5 prefix is ≡ 0 (mod g) — content-defined, so
    # identical runs share boundaries at any document offset
    cut = (f"CAST(conv(substring(md5(element_at(t, i)), 1, 15), 16, 10) "
           f"AS BIGINT) % {g} = 0")
    starts = (
        "CASE WHEN size(t) = 0 THEN CAST(array() AS ARRAY<INT>) "
        "WHEN size(t) = 1 THEN array(1) "
        f"ELSE concat(array(1), filter(sequence(2, size(t)), i -> {cut})) "
        "END")
    chunk_structs = (
        "CASE WHEN size(s) = 0 THEN "
        "CAST(array() AS ARRAY<STRUCT<c: INT, glen: INT, gram: STRING>>) "
        "ELSE transform(sequence(1, size(s)), j -> struct("
        "j AS c, "
        "coalesce(try_element_at(s, j + 1), size(t) + 1) "
        "- element_at(s, j) AS glen, "
        "concat_ws(' ', slice(t, element_at(s, j), "
        "coalesce(try_element_at(s, j + 1), size(t) + 1) "
        "- element_at(s, j))) AS gram)) END")
    chunks = (base
              .withColumn("s", F.expr(starts))
              .select(F.col(id_col),
                      F.explode(F.expr(chunk_structs)).alias("ch"))
              .select(F.col(id_col), F.col("ch.c").alias("c"),
                      F.col("ch.glen").alias("glen"),
                      F.col("ch.gram").alias("gram")))
    short = (chunks.where(F.col("glen") < mt)
             .select(id_col, "c", "gram"))
    kept = (chunks.where(F.col("glen") >= mt)
            .groupBy("gram")
            .agg(F.min(F.struct(F.col(id_col), F.col("c"))).alias("k"))
            .select(F.col(f"k.{id_col}").alias(id_col),
                    F.col("k.c").alias("c"), "gram"))
    rebuilt = (kept.unionByName(short)
               .groupBy(id_col)
               .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct(F.col("c"), F.col("gram")))),
                        lambda st: st.getField("gram")),
                    " ").alias("deduped_text"),
                    F.count(F.lit(1)).alias("_kept")))
    n_chunks = F.size(F.expr(starts))
    return (base.select(id_col, "_orig", n_chunks.alias("_n"))
            .join(rebuilt, id_col, "left")
            .select(id_col,
                    F.when(F.coalesce("_kept", F.lit(0)) == F.col("_n"),
                           F.col("_orig"))
                     .otherwise(F.coalesce("deduped_text", F.lit("")))
                     .alias("deduped_text")))


def global_line_dedup(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", line_sep: str = "\n",
                      min_chars: int = 0) -> DataFrame:
    """Corpus-wide line deduplication (the C4 rule: a line that occurs
    anywhere else in the corpus survives only at its FIRST occurrence,
    ordered by (doc id, position); every other copy is dropped) and
    document reconstruction from the surviving lines.

    Scale shape: two linear, map-side-combinable shuffles — no window,
    no join. The keeper of each distinct line is
    ``min(struct(doc_id, pos))`` under a ``groupBy(line)``: partial
    aggregation collapses every input partition's copies of a
    boilerplate hot line ("Home", a cookie banner — 10^8 occurrences
    in a 100 TB crawl) to ONE candidate row per partition BEFORE the
    line-keyed exchange, so the reducer for the hottest line receives
    at most one row per upstream partition. (A ``row_number() OVER
    (PARTITION BY line)`` window — the naive formulation — funnels all
    10^8 copies into one task, and AQE cannot split a window partition;
    that is exactly the skew this operator exists to remove.) The
    aggregate's output rows ARE the kept eligible lines — each carries
    its keeper's (doc id, position) — so no join-back is needed; they
    union with the ``min_chars``-bypassed short lines (which never
    touch the line-keyed shuffle at all) and regroup by doc id to
    reassemble text in position order. Documents whose every line is
    dropped come back with empty text (left join keeps the row).
    ``min_chars``: lines shorter than this bypass dedup and are always
    kept (C4 dedups only substantial lines).
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep))
         .alias("pos", "line"))
    eligible = F.length("line") >= min_chars
    # keeper rows: min (doc, pos) per distinct line — struct min is
    # lexicographic by field order, identical to ORDER BY doc_id, pos.
    # Measured (same session, 12.7M exploded lines, 32 cores): this
    # aggregate costs 1.2-1.3 s at BOTH 0.5M and 12.8M distinct keys
    # (a DECIMAL(38,0)-packed single-column min was tried and is ~25%
    # slower — the encode/decode arithmetic outweighs any aggregate-
    # path difference), while the row_number window it replaced costs
    # 9.0 s on the same input before even hitting its hot-key ceiling.
    kept = (lines.where(eligible)
            .groupBy("line")
            .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("k"))
            .select(F.col(f"k.{id_col}").alias(id_col),
                    F.col("k.pos").alias("pos"), "line"))
    if min_chars > 0:
        kept = kept.unionByName(
            lines.where(~eligible).select(id_col, "pos", "line"))
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct(F.col("pos"), F.col("line")))),
                        lambda s: s.getField("line")),
                    line_sep).alias("deduped_text")))
    return (docs.select(id_col)
            .join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce("deduped_text", F.lit(""))
                     .alias("deduped_text")))


def minhash_index(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  n_hashes: int = N_MINHASHES) -> DataFrame:
    """Compact per-doc dedup-index rows: ``(id, text_md5, mh0..mhN-1)``.

    The cross-run dedup primitive a crawl pipeline needs: after each
    batch is curated, persist THESE rows (not the text) and dedup the
    next crawl against them with :func:`dedup_against_index`. The
    index is ~100 bytes/doc regardless of document size — a 100 TB
    corpus indexes into ~100 GB of parquet, and serving never rescans
    prior batches' raw text.

    One pass, no join: the per-doc md5 rides through the shingle
    explode as a second grouping key (same cardinality as the id, so
    the aggregate stays map-side combinable). Docs with no shingles
    (empty text) keep a row via ``explode_outer`` with NULL minhashes;
    their exact hash still screens identical empties.
    """
    docs = fan_out(docs)
    toks = docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"),
        F.explode_outer(shingles_col(text_col)).alias("tok"))
    aggs = [
        F.min(minhash_token_hash(F.col("tok"), j)).alias(f"mh{j}")
        for j in range(n_hashes)
    ]
    return toks.groupBy(id_col, "text_md5").agg(*aggs)


def merge_minhash_indexes(*indexes: DataFrame, id_col: str = "doc_id",
                          n_hashes: int = N_MINHASHES) -> DataFrame:
    """Compact N per-batch :func:`minhash_index` frames into ONE
    equivalent index — the lifecycle step a real crawl pipeline needs
    once batch indexes accumulate.

    Screening a new batch against the merge is EQUIVALENT to
    screening it against each input index in sequence (pinned by
    test): both screens are per-document and membership-based, and a
    signature is a pure function of the text, so rows sharing
    ``text_md5`` are identical except the echoed id — the merge keeps
    ``min(struct(id, sig))`` per distinct text. That collapse is also
    the COMPACTION policy: duplicate texts indexed by several batches
    (the common case in a crawl) store one row in the merged file, so
    the merged index is bounded by DISTINCT corpus texts, not by the
    sum of batch sizes. One map-side-combinable hash aggregate; run it
    periodically over the accumulated index files and atomically swap
    the merged parquet in.
    """
    if not indexes:
        raise ValueError("merge_minhash_indexes: no indexes given")
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), indexes)
    mh = [F.col(f"mh{j}") for j in range(n_hashes)]
    return (u.groupBy("text_md5")
            .agg(F.min(F.struct(F.col(id_col), *mh)).alias("k"))
            .select(F.col(f"k.{id_col}").alias(id_col), "text_md5",
                    *[F.col(f"k.mh{j}").alias(f"mh{j}")
                      for j in range(n_hashes)]))


def dedup_against_index(new_docs: DataFrame, index: DataFrame,
                        threshold: float = 0.5, id_col: str = "doc_id",
                        text_col: str = "text",
                        n_hashes: int = N_MINHASHES,
                        rows_per_band: int = ROWS_PER_BAND) -> DataFrame:
    """Cross-run dedup: rows of ``new_docs`` not already represented
    in a prior-batch :func:`minhash_index` (exactly or nearly).

    Two screens, both index-only (prior text is never read):

    1. **exact** — anti-join on ``md5(text)``; a shuffle of 16-byte
       keys only.
    2. **near** — LSH band keys derived from the stored signatures on
       both sides (a pure projection — the index stores N longs, not
       the 8x-larger stacked band table), joined bucket-locally; a
       candidate drops when its signature-estimated Jaccard (the
       fraction of equal minhash components, the standard unbiased
       estimator) is ``>= threshold``. With the default 8 hashes the
       estimate has 1/8 resolution — at index scale raise
       ``n_hashes`` on BOTH sides for finer cuts.

    Scale shape: no window, no all-pairs join — new docs only meet
    index rows sharing a band bucket, the drop set is ids-only, and
    the final keep is a left-anti join on the id. Intra-batch dups
    are out of scope by design (both copies survive if neither is
    indexed): run :func:`near_duplicate_filter` on the batch first,
    then this op, then append ``minhash_index(survivors)`` to the
    stored index — at which point the next batch sees them.
    """
    n_bands = n_hashes // rows_per_band
    new_idx = minhash_index(new_docs, id_col, text_col, n_hashes)

    def stacked_bands(idx: DataFrame, out_id: str) -> DataFrame:
        # drop NULL-signature rows (empty / sub-shingle texts) BEFORE
        # banding: concat_ws skips NULLs, so every such row on both
        # sides would otherwise share the single md5("") bucket per
        # band — an n_new x n_old hot bucket whose pairs can never
        # drop anything (est is always 0 for a NULL component). Their
        # exact md5 screen still catches identical empties.
        sig = F.struct(*[F.col(f"mh{j}") for j in range(n_hashes)])
        return (idx.where(F.col("mh0").isNotNull())
                .select(F.col(id_col).alias(out_id),
                        sig.alias(f"sig_{out_id}"),
                        F.explode(F.array(*band_key_exprs(
                            lambda j: F.col(f"mh{j}"),
                            n_hashes, rows_per_band))).alias("band_key")))

    # exact screen straight off the text (r9): it needs only
    # (id, md5(text)) — routing it through new_idx dragged the whole
    # shingle explode + min-aggregate into this branch a second time
    # (Catalyst prunes the mh columns but cannot eliminate the
    # explode/groupBy), doubling the new batch's signature work
    exact_hits = (new_docs
                  .select(F.col(id_col),
                          F.md5(F.col(text_col)).alias("text_md5"))
                  .join(index.select("text_md5"), "text_md5", "left_semi")
                  .select(F.col(id_col)))
    est = sum(
        F.when(F.col(f"sig_new.mh{j}") == F.col(f"sig_old.mh{j}"), 1)
         .otherwise(0)
        for j in range(n_hashes)) / F.lit(float(n_hashes))
    near_hits = (
        stacked_bands(new_idx, "new").alias("n")
        .join(stacked_bands(index, "old").alias("o"), "band_key")
        .where(est >= F.lit(threshold))
        .select(F.col("new").alias(id_col)))
    drop = exact_hits.unionByName(near_hits).distinct()
    return new_docs.join(drop, id_col, "left_anti")
