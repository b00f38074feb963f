"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline on
sf0.001. ``queries()``/``oracle_sql()`` cover the operator inventory
from SURVEY.md §2 plus the training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing); every
SQL-expressible operator has a DuckDB oracle with matched column
names and cross-engine-deterministic values (md5 hashing, decimal
sums, rounded floats).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lexmapr_spark import engine
from lexmapr_spark.ops import (dedup, graph, multimodal, sampling,
                               search, similarity, textstats)

SF0001 = "/root/testdata/sf0.001"

import os
import weakref

# the data-bound oracles derive their SQL literals from the sf0.01 tables
SF001 = os.path.join(os.path.dirname(SF0001), "sf0.01")

# weak keys: a stopped context's entry disappears with the context, so
# a new session at a recycled address can never see a dead broadcast
_LEX_BC: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _lex_bc(spark):
    sc = spark.sparkContext
    bc = _LEX_BC.get(sc)
    if bc is None:
        bc = _LEX_BC[sc] = engine.broadcast_lexicon(spark)
    return bc


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fingerprint_store(sf_dir: str, table: str, name: str) -> str:
    """/tmp store root keyed by a content fingerprint of the source
    parquet (path + file sizes + ns-precision mtimes) — same cache-key
    discipline as the stored-IVF query: regenerated data (even
    sub-second) or a same-basename sibling dataset can never be served
    another build's store."""
    import hashlib
    import os

    src = os.path.join(sf_dir, table)
    files = (sorted(os.path.join(src, f) for f in os.listdir(src))
             if os.path.isdir(src) else [src])
    parts = []
    for p in files:
        try:
            st = os.stat(p)
        except OSError:
            continue  # mid-regeneration: the fingerprint changes on
            # the next call and the stale store is evicted then
        parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    tag = hashlib.md5((os.path.normpath(sf_dir) + "\n"
                       + "|".join(parts)).encode()).hexdigest()[:12]
    base = os.path.basename(os.path.normpath(sf_dir))
    return f"/tmp/lexmapr_{name}_{base}_{tag}"


def _evict_stale_stores(root: str) -> None:
    """Remove superseded stores of the SAME dataset basename. Call
    only AFTER the current store's _SUCCESS gates passed (r6 ADVICE):
    a failed build must not delete siblings a concurrent run may be
    serving from. Candidates must end in exactly a 12-hex fingerprint
    tag beyond the basename — a bare ``{prefix}_*`` glob would also
    match stores of any dataset whose basename EXTENDS this one
    (``sf0.001`` vs ``sf0.001_alt``) and delete them mid-serve."""
    import glob
    import re
    import shutil

    prefix = root.rsplit("_", 1)[0]
    for old in glob.glob(f"{prefix}_*"):
        if old != root and re.fullmatch(
                r"[0-9a-f]{12}", old[len(prefix) + 1:]):
            shutil.rmtree(old, ignore_errors=True)


def _docs_as_pages(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.col("text"))


def _docs_with_clones(spark, sf_dir):
    """documents UNION a shifted copy — guarantees duplicate groups so
    dedup operators are exercised on real collisions."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clone = d.select((F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text")
    return d.unionByName(clone)


# one threshold constant shared by the dedup_* query lambdas AND the
# oracle template (bound derivation + verify WHERE) — r7 review: a
# drifted literal would desync the engine pre-filter from the oracle
_LSH_THRESHOLD = 0.7

_CLONES_SQL = ("(SELECT doc_id, text FROM documents "
               "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents)")

# BM25 contract queries: 'dup' is the corpus's rare high-idf term,
# the others are mid/high-frequency — exercises the idf spread
BM25_QUERY_TERMS = ["dup", "merge", "query"]
BM25_BATCH_QUERIES = [("q_dup", ["dup", "slow"]),
                      ("q_join", ["join", "merge", "sort"]),
                      ("q_scan", ["scan", "table"])]

_STOPLIST = textstats.EN_STOPWORDS
_TOKEN_DIM = [("spark", "TECH_0001"), ("join", "REL_0002"),
              ("filter", "REL_0003"), ("table", "REL_0004"),
              ("stream", "TECH_0005")]


def _previous_round_window(current_window: set | None = None) -> set | None:
    """Names with a row in the newest CORRECTNESS_r*.json next to this
    file whose name-set DIFFERS from ``current_window``, or None when
    no such artifact exists (fresh checkout / round 1). Backs the
    two-round coverage invariant in :func:`queries`.

    Skipping same-as-window artifacts matters (r7 review finding):
    the driver writes this round's artifact mid-round, containing
    exactly the current window's names — comparing against THAT would
    flag every out-of-window query as stale on unchanged code the
    moment the file lands. The artifact we must check is the newest
    one recorded under a *different* (i.e. previous round's) window."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    numbered: list[tuple[int, str]] = []
    for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(p))
        if m:
            numbered.append((int(m.group(1)), p))
    for _n, path in sorted(numbered, reverse=True):
        try:
            names = set(json.load(open(path)))
        except (OSError, ValueError):
            continue
        if current_window is not None and names == current_window:
            continue
        return names
    return None


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG construction over sf0.001 documents-as-pages —
    annotate with the broadcast ontology lexicon, emit deduplicated
    (subj, pred, obj) triples."""
    pages = _docs_as_pages(spark, SF0001)
    mentions = engine.annotate(pages, _lex_bc(spark),
                               fields=engine.TRIPLE_FIELDS)
    return engine.triples(mentions)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # ---- KG pipeline (matcher not SQL-expressible: rows-only checks)
    def kg_triples(spark, sf):
        return engine.triples(
            engine.annotate(_docs_as_pages(spark, sf), _lex_bc(spark),
                            fields=engine.TRIPLE_FIELDS))
    q["kg_triples"] = kg_triples

    def kg_match_histogram(spark, sf):
        m = engine.annotate(_docs_as_pages(spark, sf), _lex_bc(spark))
        return m.groupBy("macro_status").agg(F.count("*").alias("n"))
    q["kg_match_histogram"] = kg_match_histogram

    def kg_classification_histogram(spark, sf):
        m = engine.annotate(_docs_as_pages(spark, sf), _lex_bc(spark),
                            classify=True)
        return (m.select(F.explode_outer("ifsac_labels").alias("label"))
                .groupBy("label").agg(F.count("*").alias("n")))
    q["kg_classification_histogram"] = kg_classification_histogram

    def kg_canonical_triples(spark, sf):
        t = engine.triples(
            engine.annotate(_docs_as_pages(spark, sf), _lex_bc(spark),
                            fields=engine.TRIPLE_FIELDS))
        return engine.canonicalize(
            t, engine.alias_components(spark, _lex_bc(spark).value))
    q["kg_canonical_triples"] = kg_canonical_triples

    # ---- per-row invariant: byte-identical extracted text per url
    def kg_text_extraction(spark, sf):
        from lexmapr_spark.pages import _HTML_POST, _HTML_PRE, extract_text
        docs = _t(spark, sf, "documents")
        wrapped = docs.select(
            "doc_id",
            F.col("text"),
            F.encode(F.concat(F.lit(_HTML_PRE), F.col("text"),
                              F.lit(_HTML_POST)), "UTF-8").alias("html"))
        return extract_text(wrapped).select(
            "doc_id",
            (F.col("extracted_text") == F.col("text")).alias("extraction_ok"))
    q["kg_text_extraction"] = kg_text_extraction

    # ---- SURVEY §2.1 S2: multi-column coalesce
    q["s2_multicol_coalesce"] = lambda spark, sf: (
        _t(spark, sf, "documents").select(
            "doc_id",
            F.trim(F.concat_ws(" ", "lang", "source")).alias("joined")))

    # ---- §2.2 P1+P2: lowercase + punctuation treatment
    q["p1_p2_lower_punct"] = lambda spark, sf: (
        _t(spark, sf, "documents").select(
            "doc_id",
            F.trim(F.regexp_replace(F.regexp_replace(
                F.lower("text"), "[-_();/:%,]", " "), " +", " ")
            ).alias("processed")))

    # ---- §2.2 P5: numeric-token predicate
    # r9: try_cast on a non-castable string throws+catches a JVM
    # exception internally (~6 s over this corpus, where NO token is
    # numeric), so a cheap prescreen gates it: a string double-cast
    # can succeed only if it contains an ASCII digit or its letter
    # content is exactly inf/infinity/nan (Spark's special literals,
    # case-insensitive, optional sign/space trim) — a strict SUPERSET
    # of castable tokens, so try_cast still makes every decision and
    # the result is unchanged (pinned by
    # test_p5_prescreen_matches_bare_try_cast + the untouched oracle).
    q["p5_numeric_token_filter"] = lambda spark, sf: (
        _t(spark, sf, "documents").select(
            "doc_id",
            F.expr("size(filter(split(text, ' '), "
                   "x -> CASE WHEN translate(x, '0123456789', '') != x "
                   "OR lower(regexp_replace(x, '[^a-zA-Z]', '')) "
                   "IN ('inf', 'infinity', 'nan') "
                   "THEN try_cast(x AS DOUBLE) IS NOT NULL "
                   "ELSE false END))"
                   ).alias("n_numeric_tokens"),
            F.size(dedup.tokens_col("text")).alias("n_tokens")))

    # ---- §2.2 P6: preprocess (possessive + rightmost , .)
    q["p6_preprocess"] = lambda spark, sf: (
        _t(spark, sf, "documents").select(
            "doc_id",
            F.expr("rtrim('. ', rtrim(''', ', replace(text, \"'s\", '')))"
                   ).alias("preprocessed")))

    # ---- §2.2 P11: stop-word filtering
    stop_arr = ",".join(f"'{w}'" for w in _STOPLIST)
    q["p11_stopword_filter"] = lambda spark, sf: (
        _t(spark, sf, "documents").select(
            "doc_id",
            F.expr(
                f"size(filter(split(text, ' '), x -> x != '' and not "
                f"array_contains(array({stop_arr}), x)))"
            ).alias("n_content_tokens")))

    # ---- §2.3 J1: broadcast-dict token match (broadcast hash join)
    def j1_broadcast_token_match(spark, sf):
        dim = spark.createDataFrame(_TOKEN_DIM, "term STRING, term_id STRING")
        toks = _t(spark, sf, "documents").select(
            F.explode(dedup.tokens_col("text")).alias("term"))
        return (toks.join(F.broadcast(dim), "term")
                .groupBy("term", "term_id")
                .agg(F.count("*").alias("n_mentions")))
    q["j1_broadcast_token_match"] = j1_broadcast_token_match

    # ---- §2.4 aggregations
    q["agg_event_histogram"] = lambda spark, sf: (
        _t(spark, sf, "events").groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                  .alias("total_value")))

    q["agg_tpch_pricing"] = lambda spark, sf: (
        _t(spark, sf, "lineitem")
        .where(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                  .alias("sum_qty"),
             F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                   ).cast("double").alias("sum_base_price"),
             F.sum((F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1).cast("decimal(18,2)")
                       - F.col("l_discount").cast("decimal(18,2)")))
                   ).cast("double").alias("sum_disc_price"),
             F.count("*").alias("count_order")))

    # ---- §2.3-style broadcast dim join on TPC-H tables
    def join_orders_customer(spark, sf):
        orders = _t(spark, sf, "orders")
        cust = _t(spark, sf, "customer")
        return (orders.join(F.broadcast(cust),
                            orders.o_custkey == cust.c_custkey)
                .groupBy("c_mktsegment")
                .agg(F.count("*").alias("n_orders"),
                     F.sum(F.col("o_totalprice").cast("decimal(18,2)")
                           ).cast("double").alias("revenue")))
    q["join_orders_customer"] = join_orders_customer

    # ---- §2.4 distinct aggregation + rollup (engine extensions)
    q["agg_distinct_customers"] = lambda spark, sf: (
        _t(spark, sf, "orders")
        .join(F.broadcast(_t(spark, sf, "customer")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.countDistinct("o_custkey").alias("n_customers")))

    q["agg_rollup_pricing"] = lambda spark, sf: (
        _t(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                  .alias("sum_qty")))

    q["agg_value_quantiles"] = lambda spark, sf: (
        _t(spark, sf, "events").groupBy("event_type")
        .agg(F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
             F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90")))

    # ---- §2.5 INTERSECT
    q["set_customers_with_orders"] = lambda spark, sf: (
        _t(spark, sf, "customer").select(F.col("c_custkey").alias("custkey"))
        .intersect(_t(spark, sf, "orders")
                   .select(F.col("o_custkey").alias("custkey"))))

    # ---- §2.5 multiset difference (EXCEPT ALL)
    q["set_multi_lineitem_orders"] = lambda spark, sf: (
        _t(spark, sf, "lineitem").select(F.col("l_orderkey").alias("okey"))
        .exceptAll(_t(spark, sf, "orders")
                   .select(F.col("o_orderkey").alias("okey"))))

    # ---- §2.8 window functions (engine extension; none in reference)
    def window_user_event_seq(spark, sf):
        from pyspark.sql.window import Window
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (_t(spark, sf, "events")
                .select("user_id", "event_id",
                        F.row_number().over(w).alias("seq"))
                .where(F.col("seq") <= 3))
    q["window_user_event_seq"] = window_user_event_seq

    # gap-based session ids via lag + running sum (oracle-checkable)
    def sessionize_events_batch(spark, sf):
        from pyspark.sql.window import Window
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = 1800
        ev = _t(spark, sf, "events").select("user_id", "event_id", "ts")
        flagged = ev.withColumn(
            "new_session",
            F.when(F.lag("ts").over(w).isNull()
                   | (F.unix_timestamp("ts")
                      - F.unix_timestamp(F.lag("ts").over(w)) > gap),
                   F.lit(1)).otherwise(F.lit(0)))
        return flagged.select(
            "user_id", "event_id",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("session_id"))
    q["sessionize_events_batch"] = sessionize_events_batch

    # JSON property extraction from the events props column
    q["json_extract_props"] = lambda spark, sf: (
        _t(spark, sf, "events").select(
            "event_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("k")))

    # as-of joins (r7/r8): click attribution per purchase. Union +
    # running-window form (ops/joins.py), one shuffle on user_id.
    # "backward" = latest same-user click at-or-before the purchase
    # (oracle: correlated ORDER BY ... LIMIT 1 with the identical
    # (ts DESC, event_id DESC) tie rule); "nearest" = smallest
    # ABSOLUTE time distance in either direction, exact ties going
    # backward — pandas merge_asof(direction="nearest") semantics,
    # same single-shuffle plan with two window frames.
    def _asof_click_attribution(spark, sf, direction):
        from lexmapr_spark.ops import joins
        ev = _t(spark, sf, "events")
        purchases = ev.where(F.col("event_type") == "purchase") \
            .select("event_id", "user_id", "ts")
        clicks = ev.where(F.col("event_type") == "click") \
            .select("user_id", "ts", F.col("event_id").alias("click_id"))
        out = joins.asof_join(purchases, clicks, "user_id",
                              payload_cols=["click_id"],
                              tiebreak_col="click_id",
                              direction=direction)
        return out.select("event_id", "user_id",
                          F.col("click_id_matched").alias("click_id"))

    q["events_asof_attribution"] = \
        lambda spark, sf: _asof_click_attribution(spark, sf, "backward")

    # range join (r7): per-(user, day) half-hour activity windows
    # (start = the user's first event that day) joined against ALL
    # events by pure time containment — no shared key, the big-big
    # interval join a theta-join would turn into a cartesian product.
    # r9: the pair-producing bucket equi-join + groupBy (intrinsically
    # ~n_events x n_intervals x span/time_range candidate rows — ~250M
    # at the 1M-event bench scale, collapsed to ~400k aggregate rows)
    # is replaced by joins.range_count_sum: per-epoch point
    # pre-aggregation + exact edge-epoch filtering, row-identical by
    # DECIMAL/count associativity (pinned by
    # test_range_count_sum_matches_pair_form and the unchanged DuckDB
    # oracle); value sums still go through DECIMAL(18,2) for order
    # independence.
    def events_range_join(spark, sf):
        from lexmapr_spark.ops import joins
        ev = _t(spark, sf, "events")
        intervals = (
            ev.groupBy(F.col("user_id").alias("iv_user"),
                       F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.min("ts").alias("start_ts"))
            .withColumn("end_ts",
                        F.col("start_ts") + F.expr("INTERVAL 30 MINUTES")))
        points = ev.select(
            "ts", F.col("value").cast("decimal(18,2)").alias("_val"))
        agg = joins.range_count_sum(points, intervals, sum_col="_val",
                                    count_alias="n_events",
                                    sum_alias="_vs")
        return agg.select("iv_user", "day", "n_events",
                          F.col("_vs").cast("double").alias("value_sum"))
    q["events_range_join"] = events_range_join

    q["events_asof_nearest"] = \
        lambda spark, sf: _asof_click_attribution(spark, sf, "nearest")

    # ---- §2.5 set ops
    q["set_customers_without_orders"] = lambda spark, sf: (
        _t(spark, sf, "customer").select(F.col("c_custkey").alias("custkey"))
        .subtract(_t(spark, sf, "orders")
                  .select(F.col("o_custkey").alias("custkey"))))

    # ---- §2.7 sort / top-k
    q["sort_topk_orders"] = lambda spark, sf: (
        _t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey",
                F.col("o_totalprice").cast("decimal(18,2)").cast("double")
                .alias("totalprice"))
        .limit(10))

    # ---- dedup suite
    q["dedup_exact"] = lambda spark, sf: dedup.exact_duplicates(
        _docs_with_clones(spark, sf))

    q["dedup_minhash_signatures"] = lambda spark, sf: dedup.minhash_signatures(
        _t(spark, sf, "documents").select("doc_id", "text"))

    q["dedup_minhash_lsh"] = lambda spark, sf: dedup.jaccard_near_duplicates(
        _docs_with_clones(spark, sf), threshold=_LSH_THRESHOLD)

    q["dedup_near_dup_filter"] = lambda spark, sf: (
        dedup.near_duplicate_filter(_docs_with_clones(spark, sf),
                                    threshold=_LSH_THRESHOLD)
        .select("doc_id"))

    # cluster-consistent keeper: connected components (pointer-doubling)
    # over the verified pair graph, ONE survivor (min id) per dup
    # cluster — the C4/RefinedWeb policy
    q["dedup_near_dup_components"] = lambda spark, sf: (
        dedup.near_duplicate_filter(_docs_with_clones(spark, sf),
                                    threshold=_LSH_THRESHOLD, keeper="component")
        .select("doc_id"))

    # the materialized dup graph: (doc, cluster representative)
    q["dedup_near_dup_clusters"] = lambda spark, sf: (
        dedup.near_duplicate_clusters(_docs_with_clones(spark, sf),
                                      threshold=_LSH_THRESHOLD))

    q["dedup_simhash"] = lambda spark, sf: dedup.simhash_near_duplicates(
        _docs_with_clones(spark, sf), max_hamming=3)

    # ---- similarity search
    q["ann_cosine_topk"] = lambda spark, sf: similarity.cosine_topk(
        _t(spark, sf, "embeddings"), query_id=0, k=10)

    # int8-quantized brute-force cosine (4x narrower scan; floor(x+.5)
    # tie-break makes the codes bit-identical cross-engine, and integer
    # dot/norms are exact doubles, so the oracle is a value check)
    q["ann_quantized_topk"] = lambda spark, sf: (
        similarity.cosine_topk_quantized(
            similarity.quantize_embeddings(_t(spark, sf, "embeddings")),
            query_id=0, k=10))

    q["ann_srp_bucketed_topk"] = lambda spark, sf: similarity.srp_bucketed_topk(
        _t(spark, sf, "embeddings"), query_id=0, k=10)

    # batch serving: every query's top-k in ONE job (broadcast probe
    # pairs + per-query window re-rank; pinned equal to the loop)
    q["ann_srp_batch_topk"] = lambda spark, sf: (
        similarity.srp_bucketed_topk_batch(
            _t(spark, sf, "embeddings"), [0, 7, 19], k=10))

    # int8 codes + SRP buckets composed: dequantized-code signatures
    # are fold-deterministic (integer * scale), so this is oracled
    # like ann_quantized_topk
    q["ann_quantized_srp_topk"] = lambda spark, sf: (
        similarity.srp_bucketed_topk_quantized(
            similarity.quantize_embeddings(_t(spark, sf, "embeddings")),
            query_id=0, k=10))

    q["ann_ivf_topk"] = lambda spark, sf: similarity.ivf_topk(
        _t(spark, sf, "embeddings"), query_id=0, k=10,
        n_lists=16, nprobe=4)

    # batch IVF serving: one job for the whole query batch
    q["ann_ivf_batch_topk"] = lambda spark, sf: similarity.ivf_topk_batch(
        _t(spark, sf, "embeddings"), [0, 7, 19], k=10,
        n_lists=16, nprobe=4)

    # AMORTIZED stored-index serving (round 5): the production shape —
    # codebook + partitioned index built ONCE to disk (cache keyed by
    # a content fingerprint of the source parquet, so regenerated or
    # relocated data never reuses another build; the build itself is
    # deterministic so a fingerprint hit is an exact reuse), then
    # batch serving reads back centroids + index and the scan prunes
    # to the probed ivf_list directories (PartitionFilters,
    # plan-asserted in tests). Same oracle as ann_ivf_batch_topk:
    # identical semantics, only the codebook/index residency differs.
    def ann_ivf_stored_batch_topk(spark, sf):
        import os
        # shared store discipline (_fingerprint_store docstring): the
        # cache key is a content fingerprint of the source parquet,
        # and the name 'ivf_store' reproduces this query's historical
        # /tmp/lexmapr_ivf_store_<base>_<tag> layout exactly
        root = _fingerprint_store(sf, "embeddings.parquet", "ivf_store")
        emb = _t(spark, sf, "embeddings")
        # gate on BOTH _SUCCESS markers: centroids are written after
        # the index, so a crash between the two writes leaves a cache
        # this check rejects (both writers are mode=overwrite, so the
        # rebuild simply replaces the partial artifacts)
        if not (os.path.exists(os.path.join(root, "index", "_SUCCESS"))
                and os.path.exists(
                    os.path.join(root, "centroids", "_SUCCESS"))):
            cents = similarity.kmeans_centroids(emb, k=16)
            similarity.write_ivf_index(
                similarity.ivf_assign(emb, cents), f"{root}/index")
            similarity.write_ivf_centroids(spark, cents,
                                           f"{root}/centroids")
        # eviction only AFTER the gate passed (r6 ADVICE)
        _evict_stale_stores(root)
        stored = similarity.read_ivf_index(spark, f"{root}/index")
        cents = similarity.read_ivf_centroids(spark, f"{root}/centroids")
        return similarity.ivf_topk_batch(emb, [0, 7, 19], k=10,
                                         n_lists=16, nprobe=4,
                                         centroids=cents,
                                         assigned=stored)
    q["ann_ivf_stored_batch_topk"] = ann_ivf_stored_batch_topk

    # bits_per_band left to auto-derivation (corpus = 1000 clones ->
    # derive_srp_bits(1000, 8) = 7); the oracle derives the identical
    # value from the same count so the band layout is pinned end-to-end
    q["emb_near_duplicates"] = lambda spark, sf: (
        similarity.embedding_near_duplicates(
            _t(spark, sf, "embeddings")
            .unionByName(_t(spark, sf, "embeddings")
                         .select((F.col("vec_id") + 1000000).alias("vec_id"),
                                 "embedding", "label")),
            threshold=0.99, n_bands=4))

    # SemDeDup over the same clone corpus: codebook trained on the
    # BASE table (md5-sample + seeded Lloyd — byte-identical to the
    # oracle's driver-side replay), clones guarantee every vector has
    # an exact semantic duplicate; rank ties break to the lower id so
    # originals survive and the +1000000 clones drop
    def _semantic_dedup_q(spark, sf):
        emb = _t(spark, sf, "embeddings")
        cents = similarity.kmeans_centroids(emb, k=16)
        clones = emb.select("vec_id", "embedding").unionByName(
            emb.select((F.col("vec_id") + 1000000).alias("vec_id"),
                       "embedding"))
        return similarity.semantic_dedup(clones, threshold=0.99,
                                         centroids=cents)

    q["emb_semantic_dedup"] = _semantic_dedup_q

    # ---- text analysis
    q["text_token_count"] = lambda spark, sf: textstats.token_count(
        _t(spark, sf, "documents"))
    q["text_quality"] = lambda spark, sf: textstats.quality_score(
        _t(spark, sf, "documents"))
    q["text_langid"] = lambda spark, sf: textstats.lang_id(
        _t(spark, sf, "documents"))
    q["curation_pipeline"] = lambda spark, sf: textstats.curate(
        _t(spark, sf, "documents"), min_quality=0.3, lang="en")

    q["text_fingerprint"] = lambda spark, sf: textstats.fingerprint(
        _t(spark, sf, "documents"))

    # one-row dataset card (doc/byte/token totals, distincts, vocab)
    q["corpus_stats"] = lambda spark, sf: textstats.corpus_stats(
        _t(spark, sf, "documents"))

    # ---- PII scrub over documents with deterministically planted
    # emails/IPs/phones (the synthetic corpus has none of its own)
    def text_pii_redaction(spark, sf):
        docs = _t(spark, sf, "documents").select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".17 tel 555-01"),
                F.format_string("%04d", (F.col("doc_id") % 10000)
                                .cast("int")),
            ).alias("text"))
        return textstats.redact_pii(docs)
    q["text_pii_redaction"] = text_pii_redaction

    # ---- benchmark decontamination: distinct 8-grams shared with the
    # probe corpus (here: docs 0-4 standing in for an eval suite)
    def text_contamination(spark, sf):
        docs = _t(spark, sf, "documents")
        probes = docs.where(F.col("doc_id") < 5)
        return textstats.ngram_contamination(docs, probes, n=8)
    q["text_contamination"] = text_contamination

    # ---- corpus n-gram statistics (LM counts / boilerplate mining):
    # two stacked map-side-combined aggs, no countDistinct expansion
    q["text_ngram_counts"] = lambda spark, sf: textstats.ngram_counts(
        _t(spark, sf, "documents"), n=3, min_count=3)
    # heavy-hitter head via TakeOrderedAndProject (per-task top-k)
    q["text_ngram_topk"] = lambda spark, sf: textstats.ngram_topk(
        _t(spark, sf, "documents"), n=2, k=100)

    # ---- token-adjacency PageRank (TextRank-style corpus keywords):
    # fixed-iteration power method, DECIMAL contribution sums so the
    # shuffle's summation order can't perturb the 6-dp contract
    q["graph_pagerank"] = lambda spark, sf: graph.pagerank_topk(
        _t(spark, sf, "documents"), k=100, iters=5)

    # ---- BM25 ranked retrieval: single query is a pure-codegen
    # projection + TakeOrderedAndProject (zero wide shuffle); batch
    # amortizes one corpus scan across a broadcast query table
    q["search_bm25_topk"] = lambda spark, sf: search.bm25_topk(
        _t(spark, sf, "documents"), BM25_QUERY_TERMS, k=20)

    def search_bm25_batch(spark, sf):
        queries = spark.createDataFrame(
            BM25_BATCH_QUERIES, "query_id string, terms array<string>")
        return search.bm25_batch_topk(_t(spark, sf, "documents"),
                                      queries, k=10)
    q["search_bm25_batch"] = search_bm25_batch

    # stored inverted index: postings partitioned by term-hash bucket,
    # serving reads ONLY the query terms' buckets (PartitionFilters) —
    # same amortized build-once/query-many shape as the stored IVF
    def search_bm25_indexed(spark, sf):
        import os
        root = _fingerprint_store(sf, "documents.parquet", "bm25_store")
        gates = [os.path.join(root, "postings", "_SUCCESS"),
                 os.path.join(root, "stats", "_SUCCESS")]
        if not all(os.path.exists(g) for g in gates):
            search.build_bm25_index(_t(spark, sf, "documents"), root,
                                    n_buckets=32)
        _evict_stale_stores(root)
        return search.bm25_topk_indexed(spark, root, BM25_QUERY_TERMS,
                                        k=20, n_buckets=32)
    q["search_bm25_indexed"] = search_bm25_indexed

    # batch x stored-index (the production serving matrix corner):
    # one partition-pruned postings read covers the whole query batch
    def search_bm25_batch_indexed(spark, sf):
        import os
        root = _fingerprint_store(sf, "documents.parquet", "bm25_store")
        gates = [os.path.join(root, "postings", "_SUCCESS"),
                 os.path.join(root, "stats", "_SUCCESS")]
        if not all(os.path.exists(g) for g in gates):
            search.build_bm25_index(_t(spark, sf, "documents"), root,
                                    n_buckets=32)
        _evict_stale_stores(root)
        queries = spark.createDataFrame(
            BM25_BATCH_QUERIES, "query_id string, terms array<string>")
        return search.bm25_batch_topk_indexed(spark, root, queries,
                                              k=10, n_buckets=32)
    q["search_bm25_batch_indexed"] = search_bm25_batch_indexed

    # merged-index lifecycle: two disjoint per-batch indexes merged
    # (with a bucket-layout widen) must serve the union corpus's
    # scores — same oracle as the direct scan
    def search_bm25_merged(spark, sf):
        import os
        root = _fingerprint_store(sf, "documents.parquet",
                                  "bm25_merged_store")
        gate = os.path.join(root, "merged", "stats", "_SUCCESS")
        if not os.path.exists(gate):
            docs = _t(spark, sf, "documents")
            # TOTAL split: pmod handles negatives and coalesce routes
            # NULL ids into the even half — plain `% 2 == 0/1` would
            # silently drop NULL/negative-odd ids from BOTH batches
            # while the full-corpus oracle still counts them
            half = F.coalesce(F.pmod(F.col("doc_id"), F.lit(2)), F.lit(0))
            search.build_bm25_index(docs.where(half == 0),
                                    f"{root}/even", n_buckets=8)
            search.build_bm25_index(docs.where(half != 0),
                                    f"{root}/odd", n_buckets=16)
            search.merge_bm25_indexes(
                spark, [f"{root}/even", f"{root}/odd"],
                f"{root}/merged", n_buckets=32)
        _evict_stale_stores(root)
        return search.bm25_topk_indexed(spark, f"{root}/merged",
                                        BM25_QUERY_TERMS, k=20,
                                        n_buckets=32)
    q["search_bm25_merged"] = search_bm25_merged

    # PMI bigram collocations (the live form of the reference's
    # dormant wiki-collocation resources)
    q["text_pmi_collocations"] = lambda spark, sf: \
        textstats.pmi_collocations(_t(spark, sf, "documents"),
                                   min_count=5, k=100)

    # ---- deterministic curation sampling (reproducible across runs,
    # engines, and partition layouts — unlike seeded df.sample)
    q["sample_hash_10pct"] = lambda spark, sf: sampling.hash_sample(
        _t(spark, sf, "documents").select("doc_id", "lang", "source"),
        fraction=0.1)
    q["sample_domain_cap"] = lambda spark, sf: sampling.stratified_cap(
        _t(spark, sf, "documents").select("doc_id", "source"),
        group_col="source", n=10)

    # data mixing: per-source keep-rates as one pushed filter
    q["sample_mixture"] = lambda spark, sf: sampling.mixture_sample(
        _t(spark, sf, "documents").select("doc_id", "source"),
        rates={"src0": 1.0, "src1": 0.25}, default_rate=0.05)

    # upsampling path (r6): rare source repeated 2.5x — floor copies +
    # deterministic hash-threshold fractional copy, bounded explode
    q["sample_mixture_upsample"] = lambda spark, sf: sampling.mixture_sample(
        _t(spark, sf, "documents").select("doc_id", "source"),
        rates={"src0": 2.5, "src1": 0.25}, default_rate=0.05)

    # train/val/test labels from disjoint hash ranges — rows can never
    # migrate between splits across runs/engines/partitionings
    q["sample_split_assign"] = lambda spark, sf: sampling.assign_splits(
        _t(spark, sf, "documents").select("doc_id", "source"),
        weights={"train": 0.8, "val": 0.1, "test": 0.1})

    # ---- multimodal plumbing (payloads synthesized deterministically)
    def multimodal_features(spark, sf):
        media = multimodal.synth_media(spark, 300)
        return multimodal.extract_features(media).select(
            "media_id", "kind", "n_bytes")
    q["multimodal_features"] = multimodal_features

    def multimodal_frame_plan(spark, sf):
        media = multimodal.synth_media(spark, 300)
        return (multimodal.frame_sample_plan(media, every_ms=5000)
                .groupBy("media_id").agg(F.count("*").alias("n_frames")))
    q["multimodal_frame_plan"] = multimodal_frame_plan

    # oracle-checked variant: media built FROM the documents table
    # (payload = utf-8 text bytes) so DuckDB can reproduce the full
    # decode path — the fake decoder is sha256(kind + payload), exactly
    # expressible in SQL; double features (see extract_features docs).
    # The vector is serialized to a CSV string (%.6f per element) so
    # the frame is scalar-only: the driver's canonicalizer sorts raw
    # columns and cannot sort array cells, while the value check still
    # covers every element.
    def multimodal_features_docs(spark, sf):
        media = _t(spark, sf, "documents").select(
            F.col("doc_id").alias("media_id"),
            F.element_at(F.array(F.lit("image"), F.lit("audio"),
                                 F.lit("video")),
                         (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
            F.encode("text", "UTF-8").alias("payload"))
        feats = multimodal.extract_features(media, feature_dtype="double")
        return feats.select(
            "media_id", "kind", "n_bytes",
            F.concat_ws(",", F.transform(
                "features", lambda x: F.format_string("%.6f", x))
            ).alias("features"))
    q["multimodal_features_docs"] = multimodal_features_docs

    # oracle-checked frame-fan-out: durations derived from documents
    # so DuckDB can reproduce the sequence+explode plan exactly
    def multimodal_frame_plan_docs(spark, sf):
        media = _t(spark, sf, "documents").select(
            F.col("doc_id").alias("media_id"),
            F.when(F.col("doc_id") % 3 == 2, F.lit("video"))
            .otherwise(F.lit("image")).alias("kind"),
            (F.lit(1000) + (F.col("doc_id") * 37) % 9000)
            .cast("int").alias("duration_ms"))
        return multimodal.frame_sample_plan(media, every_ms=1000)
    q["multimodal_frame_plan_docs"] = multimodal_frame_plan_docs

    # REAL codec path (round 5): pure-numpy BMP / WAV-PCM16 / P6-stream
    # decoders run inside the Arrow stage; synth_media_real's payloads
    # are closed-form in the row index, so the decoded features are
    # pinned by a pure-SQL oracle (see synth_media_real's docstring)
    def multimodal_real_decode(spark, sf):
        media = multimodal.synth_media_real(spark, 300)
        feats = multimodal.extract_features(media, decoder="real",
                                            feature_dtype="double")
        return feats.select(
            "media_id", "kind", "n_bytes",
            F.concat_ws(",", F.transform(
                "features", lambda x: F.format_string("%.6f", x))
            ).alias("features"))
    q["multimodal_real_decode"] = multimodal_real_decode

    # ---- BPE-denominated twins (r6): same operators, token counts
    # from the deterministic byte-level BPE tokenizer instead of the
    # whitespace proxy — pack boundaries in REAL subword tokens. The
    # oracle replays the identical merge table pure-Python-side.
    def text_token_count_bpe(spark, sf):
        from lexmapr_spark.ops import bpe
        return textstats.token_count(_t(spark, sf, "documents"),
                                     tokenizer=bpe.bpe_tokenizer())
    q["text_token_count_bpe"] = text_token_count_bpe

    def pack_sequences_bpe(spark, sf):
        from lexmapr_spark.ops import bpe, packing
        return packing.pack_sequences(
            _t(spark, sf, "documents"), seq_len=512, n_buckets=32,
            tokenizer=bpe.bpe_tokenizer())
    q["pack_sequences_bpe"] = pack_sequences_bpe

    # ---- sequence packing (two-phase distributed prefix sum ==
    # the single-threaded cumsum the oracle computes directly)
    def pack_sequences_2k(spark, sf):
        from lexmapr_spark.ops import packing
        return packing.pack_sequences(
            _t(spark, sf, "documents"), seq_len=2048, n_buckets=32)
    q["pack_sequences_2k"] = pack_sequences_2k

    # materialized packed examples (seq_len small enough that packs
    # hold several documents at sf0.01)
    def pack_examples_512(spark, sf):
        from lexmapr_spark.ops import packing
        return packing.build_packed_examples(
            _t(spark, sf, "documents"), seq_len=512, n_buckets=32)
    q["pack_examples_512"] = pack_examples_512

    # ---- C4-style global line dedup (lines synthesized from tokens
    # so cross-document duplicates are plentiful and SQL-reproducible)
    def dedup_global_lines(spark, sf):
        lined = _t(spark, sf, "documents").select(
            "doc_id", F.replace(F.col("text"), F.lit(" "),
                                F.lit("\n")).alias("text"))
        return dedup.global_line_dedup(lined)
    q["dedup_global_lines"] = dedup_global_lines

    # ---- chunked ExactSubstr dedup (round 5): corpus-wide repeated
    # token runs cut at chunk granularity; clones guarantee repeats
    def dedup_exact_substring(spark, sf):
        return dedup.exact_substring_dedup(
            _docs_with_clones(spark, sf), gram_tokens=8)
    q["dedup_exact_substring"] = dedup_exact_substring

    # content-defined-chunking variant (r6): clones are SHIFTED by a
    # one-token prefix, the exact case the aligned variant provably
    # misses — CDC boundaries travel with the content and cut them
    def dedup_exact_substring_cdc(spark, sf):
        d = _t(spark, sf, "documents").select("doc_id", "text")
        shifted = d.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.lit("px "), F.col("text")).alias("text"))
        return dedup.exact_substring_dedup_cdc(
            d.unionByName(shifted), gram_tokens=8)
    q["dedup_exact_substring_cdc"] = dedup_exact_substring_cdc

    # ---- cross-run incremental dedup (round 5): new crawl batch vs a
    # stored MinHash index of the prior batch — exact md5 screen +
    # band-bucketed signature-estimated-Jaccard screen, prior text
    # never rescanned. Even docs reappear verbatim (exact screen),
    # docs = 1 mod 4 reappear with one appended token (near screen),
    # docs = 3 mod 4 are replaced by genuinely novel pages (survive).
    def dedup_incremental(spark, sf):
        d = _t(spark, sf, "documents").select("doc_id", "text")
        new = (d.where(F.col("doc_id") % 2 == 0)
               .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
               .unionByName(
                   d.where(F.col("doc_id") % 4 == 1)
                   .select((F.col("doc_id") + 2000000).alias("doc_id"),
                           F.concat(F.col("text"),
                                    F.lit(" xq7")).alias("text")))
               .unionByName(
                   d.where(F.col("doc_id") % 4 == 3)
                   .select((F.col("doc_id") + 3000000).alias("doc_id"),
                           F.concat(
                               F.lit("novel page "),
                               (F.col("doc_id") + 3000000).cast("string"),
                               F.lit(" entirely fresh tokens qz17 unseen"))
                           .alias("text"))))
        surv = dedup.dedup_against_index(
            new, dedup.minhash_index(d), threshold=0.5)
        return surv.select("doc_id", F.md5("text").alias("text_md5"))
    q["dedup_incremental"] = dedup_incremental

    # merged-index lifecycle (r6): two prior batch indexes compacted
    # with merge_minhash_indexes, the third crawl screened against the
    # merge — equivalent to sequential screens (pinned by pytest)
    def dedup_incremental_merged(spark, sf):
        d = _t(spark, sf, "documents").select("doc_id", "text")
        a = d.where(F.col("doc_id") % 3 == 0)
        b = d.where(F.col("doc_id") % 3 == 1)
        new = (a.where(F.col("doc_id") % 6 == 0)
               .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
               .unionByName(
                   b.where(F.col("doc_id") % 6 == 1)
                   .select((F.col("doc_id") + 2000000).alias("doc_id"),
                           F.concat(F.col("text"),
                                    F.lit(" xq7")).alias("text")))
               .unionByName(
                   d.where(F.col("doc_id") % 3 == 2)
                   .select((F.col("doc_id") + 3000000).alias("doc_id"),
                           F.concat(
                               F.lit("novel page "),
                               (F.col("doc_id") + 3000000).cast("string"),
                               F.lit(" entirely fresh tokens qz17 unseen"))
                           .alias("text"))))
        merged = dedup.merge_minhash_indexes(
            dedup.minhash_index(a), dedup.minhash_index(b))
        surv = dedup.dedup_against_index(new, merged, threshold=0.5)
        return surv.select("doc_id", F.md5("text").alias("text_md5"))
    q["dedup_incremental_merged"] = dedup_incremental_merged

    # ---- full curation pipeline v2: + repetition gate + benchmark
    # decontamination on top of lang/quality/fingerprint-dedup
    def curation_pipeline_v2(spark, sf):
        docs = _t(spark, sf, "documents")
        return textstats.curate(
            docs, max_dup_word_frac=0.9,
            probes=docs.where(F.col("doc_id") < 5))
    q["curation_pipeline_v2"] = curation_pipeline_v2

    # ---- Gopher-style repetition stats (lines synthesized by
    # replacing a frequent word with newlines — SQL-expressible so the
    # DuckDB oracle recomputes every stat via unnest + window)
    def text_repetition(spark, sf):
        lined = _t(spark, sf, "documents").select(
            "doc_id", F.replace(F.col("text"), F.lit(" table "),
                                F.lit("\n")).alias("text"))
        return textstats.repetition_stats(lined)
    q["text_repetition"] = text_repetition

    # ---- unigram-LM perplexity proxy (self-scored corpus)
    def text_perplexity(spark, sf):
        return textstats.perplexity(_t(spark, sf, "documents"))
    q["text_perplexity"] = text_perplexity

    # ---- URL/domain blocklist gate (zero-shuffle literal path; the
    # DataFrame join path is pinned equal by pytest)
    def web_host_filter(spark, sf):
        from lexmapr_spark.ops import web
        d = _t(spark, sf, "documents").select(
            "doc_id",
            F.concat(F.lit("https://"),
                     F.when(F.col("doc_id") % 5 == 0, "ads.")
                      .otherwise(""),
                     F.col("source"), F.lit(".example.com/p/"),
                     F.col("doc_id")).alias("url"))
        kept = web.filter_blocked_hosts(
            d, ["src1.example.com", "ads.src0.example.com"])
        return kept.select("doc_id", "host")
    q["web_host_filter"] = web_host_filter

    # ---- per-host curation dashboard (round 5): volume, dup rate,
    # quality/lang pass counts per synthesized host — one groupBy of
    # map-side-combinable aggregates, ratios from integral counts
    def web_host_rollup(spark, sf):
        from lexmapr_spark.ops import web
        d = _t(spark, sf, "documents").select(
            "doc_id", "text",
            F.concat(F.lit("https://"),
                     F.when(F.col("doc_id") % 5 == 0, "ads.")
                      .otherwise(""),
                     F.col("source"), F.lit(".example.com/p/"),
                     F.col("doc_id")).alias("url"))
        return web.host_rollup(d)
    q["web_host_rollup"] = web_host_rollup

    # ---- URL canonicalization (round 5): dedup keys for crawl URLs —
    # fragment/default-port/tracking-param removal + case-folded
    # scheme/authority, all codegen string ops (no UDF, no shuffle);
    # messy synthesized URLs exercise every rule incl. a dangling
    # '&gclid' glued to a query-less path (kept verbatim: no '?')
    def web_url_normalize(spark, sf):
        from lexmapr_spark.ops import web
        did = F.col("doc_id").cast("string")
        messy = F.concat(
            F.when(F.col("doc_id") % 3 == 0, "HTTP://")
             .otherwise("https://"),
            F.when(F.col("doc_id") % 4 == 0, F.upper("source"))
             .otherwise(F.col("source")),
            F.lit(".Example.COM"),
            F.when(F.col("doc_id") % 3 == 0, ":80")
             .when(F.col("doc_id") % 7 == 0, ":8080").otherwise(""),
            F.lit("/p/"), did,
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(F.lit("?utm_source=feed&id="), did))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, "&gclid=abc").otherwise(""),
            F.when(F.col("doc_id") % 6 == 0, "#frag").otherwise(""))
        return web.normalize_urls(
            _t(spark, sf, "documents")
            .select("doc_id", messy.alias("url"))) \
            .select("doc_id", "url", "canonical_url")
    q["web_url_normalize"] = web_url_normalize

    # ---- C7 confidence scoring (lexmapr_spark/confidence.py)
    # Oracle-checked core: synthetic (tokens, statuses) derived from
    # documents via SQL-expressible transforms, scored with the JVM
    # score_confidence expressions; DuckDB independently replicates the
    # penalty fold, the str(set)-membership quirk, and the int-vs-float
    # score rendering. Tokens are non-empty-filtered so instr/strpos
    # agree across engines.
    def conf_scoring(spark, sf):
        from lexmapr_spark import confidence as conf
        docs = _t(spark, sf, "documents")
        toks = F.filter(F.split(F.lower(F.col("text")), " "),
                        lambda x: x != "")
        base = (docs
                .withColumn("toks", toks)
                .where(F.size("toks") >= 4)
                .select(
                    "doc_id",
                    F.slice("toks", 1, 6).alias("sample_tokens"),
                    F.when(F.col("doc_id") % 3 == 0, "Full Term Match")
                     .when(F.col("doc_id") % 3 == 1, "Component Match")
                     .otherwise("No Match").alias("macro_status"),
                    F.array(
                        F.when(F.col("doc_id") % 2 == 0,
                               "Used Cleaned Sample")
                         .otherwise("A Direct Match"),
                        F.when(F.col("n_chars") % 2 == 0,
                               "Spelling Correction Treatment")
                         .otherwise("Synonym Usage")).alias("micro_status"),
                    F.slice("toks", 1, 2).alias("covered_tokens"),
                    F.slice("toks", 2, 2).alias("head_nouns")))
        return conf.score_confidence(base, "head_nouns") \
            .select("doc_id", "confidence_score", "confidence")
    q["conf_scoring"] = conf_scoring

    # rows-only (matcher-driven): per-level confidence histogram over
    # annotated pages — exercises annotate(confidence=True) +
    # with_confidence end-to-end
    def kg_confidence_histogram(spark, sf):
        from lexmapr_spark import confidence as conf
        m = engine.annotate(_docs_as_pages(spark, sf), _lex_bc(spark),
                            confidence=True)
        c = conf.with_confidence(m)
        return (c.groupBy(
                    "macro_status",
                    F.regexp_extract("confidence", r"^(.+) \(", 1)
                     .alias("confidence_level"))
                 .agg(F.count("*").alias("n"),
                      F.round(F.avg("confidence_score"), 6)
                       .alias("avg_score")))
    q["kg_confidence_histogram"] = kg_confidence_histogram

    # Python-UDF-bearing queries need the package importable on the
    # executors regardless of the driver's launch directory
    def _shipped(fn):
        def wrapper(spark, sf):
            engine.ship_package(spark)
            return fn(spark, sf)
        return wrapper

    # The contract driver records correctness rows for the FIRST
    # DRIVER_SLOTS dict entries only, so dict order decides which
    # queries get a driver-verified row this round. Round-9 window
    # (exactly 50 names, asserted below so a future addition that
    # silently pushes a query out of verification fails loudly —
    # r5 ADVICE): [1-38] every query whose last driver row is r7
    # (the two-round invariant: nothing goes two rounds without a
    # driver row); [39-50] the paths the r9 optimization round
    # touched (range_count_sum restructure, pagerank broadcast state
    # + slice-zip bigrams, shingle slice-zip + connected-components
    # lazy checkpoints across the dedup family, classification
    # precompute, try_cast prescreen, asof skew_buckets code motion).
    priority = [
        # 38 queries with no CORRECTNESS_r08 row — every one was
        # hash-green in the r8 88/88 sweep and again in the r9 local
        # sweeps; the driver now re-certifies them
        "dedup_exact", "dedup_simhash", "ann_cosine_topk",
        "ann_quantized_topk", "ann_srp_batch_topk", "ann_ivf_topk",
        "ann_ivf_batch_topk", "emb_semantic_dedup",
        "text_token_count", "text_quality", "text_langid",
        "curation_pipeline", "curation_pipeline_v2",
        "text_fingerprint", "corpus_stats", "text_pii_redaction",
        "text_contamination", "search_bm25_batch",
        "search_bm25_batch_indexed", "search_bm25_merged",
        "sample_hash_10pct", "sample_domain_cap",
        "sample_mixture_upsample", "multimodal_features",
        "multimodal_frame_plan", "multimodal_features_docs",
        "multimodal_frame_plan_docs", "multimodal_real_decode",
        "dedup_global_lines", "dedup_exact_substring",
        "dedup_exact_substring_cdc", "dedup_incremental",
        "dedup_incremental_merged", "text_repetition",
        "text_perplexity", "web_host_filter", "web_host_rollup",
        "web_url_normalize",
        # 12 round-9-touched paths (all r8 hash-green; the other r8
        # window queries rotate out — each keeps its r8 row,
        # satisfying the two-round invariant)
        "events_range_join",           # r9: range_count_sum rewrite
        "p5_numeric_token_filter",     # r9: try_cast prescreen
        "graph_pagerank",              # r9: broadcast state + zip
        "kg_classification_histogram",  # r9: rule-table precompute
        "dedup_minhash_lsh",           # r9: shingle slice-zip
        "dedup_minhash_signatures",
        "dedup_near_dup_filter",
        "dedup_near_dup_components",   # r9: + lazy cc checkpoints
        "dedup_near_dup_clusters",
        "kg_canonical_triples",        # driver-side alias components
        "events_asof_attribution",     # r9: asof skew_buckets motion
        "events_asof_nearest",
    ]
    DRIVER_SLOTS = 50
    assert len(priority) == DRIVER_SLOTS, (
        f"driver window is exactly {DRIVER_SLOTS} slots; priority has "
        f"{len(priority)} — adjust the rotation explicitly instead of "
        "letting a new query silently push one out of verification")
    missing = [k for k in priority if k not in q]
    assert not missing, f"priority names not in queries(): {missing}"
    unverified = [k for k in q if k not in priority]
    # two-round coverage invariant (r6 verdict item 4): a query left
    # out of this round's window MUST have a row in the previous
    # round's CORRECTNESS artifact — no query goes two consecutive
    # rounds without a driver-verified row
    prev = _previous_round_window(current_window=set(priority))
    if prev is not None:
        stale = [k for k in unverified if k not in prev]
        assert not stale, (
            "two-round coverage violated: these queries are outside "
            "this round's driver window AND had no row last round — "
            f"rotate them in: {stale}")
    # loud, greppable record of what this round's window skips
    import logging

    logging.getLogger("lexmapr_spark.contract").info(
        "driver window covers %d/%d queries; unverified this round: %s",
        DRIVER_SLOTS, len(q), ",".join(unverified))
    order = priority + unverified
    assert set(order) == set(q) and len(order) == len(q)
    return {name: _shipped(q[name]) for name in order}


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def _ivf_oracle_sqls() -> dict[str, str]:
    """DuckDB oracles for ``ann_ivf_topk`` (per-query) and
    ``ann_ivf_batch_topk`` from ONE codebook derivation. The IVF
    codebook is fully deterministic (md5-of-id-ordered 2000-row
    sample + seeded Lloyd, ``similarity.kmeans_centroids``), so this
    rebuilds the identical centroids driver-side from the same
    parquet, embeds them and the probe-list ids as SQL literals, and
    reproduces list assignment (row_number over list_distance, ties
    to the lowest centroid id = numpy argmin) + probe filter + exact
    cosine re-rank. The batch branches use the exact-fold cosine (not
    ``list_cosine_similarity``, whose accumulation order can flip the
    6th rounded decimal). Bound to sf0.01 because the centroid
    literals are data-dependent — exactly the scale the driver runs
    oracles at; returns {} (rows-only fallback) if that parquet is
    missing, and raises on any other failure."""
    import duckdb
    import numpy as np

    from lexmapr_spark.ops.similarity import lloyd_kmeans

    qids = [0, 7, 19]
    path = f"{SF001}/embeddings.parquet"
    if not os.path.exists(path):
        return {}
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT embedding FROM read_parquet('{path}') "
        "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 2000"
    ).fetchall()
    qrows = con.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{path}') "
        f"WHERE vec_id IN ({','.join(map(str, qids))}) "
        "ORDER BY vec_id").fetchall()
    con.close()
    if [r[0] for r in qrows] != qids:
        raise ValueError(f"{path}: query ids {qids} missing")

    data = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    cents = lloyd_kmeans(data, k=16, iters=10, seed=42)
    cent_rows = ",".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ",".join(repr(float(x)) for x in c))
        for i, c in enumerate(cents))
    assigned_cte = (
        f"WITH cents(cid, cvec) AS (VALUES {cent_rows}), "
        "assigned AS (SELECT vec_id, embedding, cid, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY "
        "list_distance(embedding::DOUBLE[], cvec), cid) AS rn "
        "FROM embeddings CROSS JOIN cents)")
    dim = data.shape[1]

    def probe_ids_for(vec):
        qvec = np.asarray(list(vec), dtype=np.float64)
        return ",".join(
            str(int(p))
            for p in (((cents - qvec) ** 2).sum(1)).argsort()[:4])

    def fold(a, b):
        return (f"list_sum(list_transform(generate_series(1, {dim}), "
                f"i -> ({a})[i]::DOUBLE * ({b})[i]::DOUBLE))")

    def cos6(a, b):
        return (f"round({fold(a, b)} / "
                f"(sqrt({fold(a, a)}) * sqrt({fold(b, b)})), 6)")

    out = {
        "ann_ivf_topk":
            assigned_cte + ", "
            "probed AS (SELECT vec_id, embedding FROM assigned "
            f"WHERE rn = 1 AND cid IN ({probe_ids_for(qrows[0][1])})), "
            "q AS (SELECT embedding AS qvec FROM embeddings "
            "WHERE vec_id = 0) "
            "SELECT p.vec_id, "
            f"{cos6('p.embedding', 'q.qvec')} AS cosine "
            "FROM probed p, q WHERE p.vec_id <> 0 "
            "ORDER BY cosine DESC, p.vec_id ASC LIMIT 10",
    }
    branches = [
        f"(SELECT CAST({qid} AS BIGINT) AS query_id, a.vec_id, "
        f"{cos6('a.embedding', 'q.embedding')} AS cosine "
        "FROM assigned a, (SELECT embedding FROM embeddings "
        f"WHERE vec_id = {qid}) q "
        f"WHERE a.rn = 1 AND a.cid IN ({probe_ids_for(vec)}) "
        f"AND a.vec_id <> {qid} "
        "ORDER BY cosine DESC, a.vec_id ASC LIMIT 10)"
        for qid, vec in qrows
    ]
    out["ann_ivf_batch_topk"] = (
        assigned_cte + " " + " UNION ALL ".join(branches))
    # the stored-index variant serves from parquet-persisted
    # centroids + assignments; doubles round-trip parquet exactly,
    # so its results are pinned by the SAME batch SQL
    out["ann_ivf_stored_batch_topk"] = out["ann_ivf_batch_topk"]

    # SemDeDup over the clone corpus — same codebook (trained on the
    # BASE table, so cent_rows above is reused verbatim), same
    # row_number assignment replay, centroid-cosine rank (rounded 6),
    # one-pass "earlier-ranked near neighbour in my cluster" drop rule
    # (NeMo-Curator-style), anti-join survivors.
    out["emb_semantic_dedup"] = (
        f"WITH cents(cid, cvec) AS (VALUES {cent_rows}), "
        "clones AS (SELECT vec_id, embedding FROM embeddings "
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding "
        "FROM embeddings), "
        "assigned AS (SELECT vec_id, embedding, cid, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY "
        "list_distance(embedding::DOUBLE[], cvec), cid) AS rn "
        "FROM clones CROSS JOIN cents), "
        "ranked AS (SELECT a.vec_id, a.embedding, a.cid AS ivf_list, "
        f"{cos6('a.embedding', 'c.cvec')} AS cent_cos "
        "FROM assigned a JOIN cents c ON a.cid = c.cid WHERE a.rn = 1), "
        "drops AS (SELECT DISTINCT a.vec_id FROM ranked a "
        "JOIN ranked b ON a.ivf_list = b.ivf_list "
        "AND (b.cent_cos < a.cent_cos OR (b.cent_cos = a.cent_cos "
        "AND b.vec_id < a.vec_id)) "
        f"WHERE {cos6('a.embedding', 'b.embedding')} >= 0.99) "
        "SELECT r.vec_id, r.ivf_list, r.cent_cos FROM ranked r "
        "WHERE r.vec_id NOT IN (SELECT vec_id FROM drops)")
    return out


def _srp_sig_sql(planes, n_bits: int, vec_expr: str = "embedding") -> str:
    """DuckDB expression for the first ``n_bits`` of the exact SRP
    signature over ``vec_expr`` — the same sequential IEEE-double fold
    as ``similarity.srp_signature_exact`` (bit-identical, verified)."""
    dim = len(planes[0])
    terms = []
    for p in planes[:n_bits]:
        lit = "[" + ",".join(repr(float(x)) for x in p) + "]::DOUBLE[]"
        terms.append(
            f"CASE WHEN list_sum(list_transform(generate_series(1, {dim}),"
            f" i -> (({vec_expr})[i]::DOUBLE) * ({lit})[i])) >= 0 "
            "THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(terms) + ")"


def _srp_oracle_sqls() -> dict[str, str]:
    """Oracles for the two SRP-bucketed queries, enabled by the exact
    (fold-deterministic) signature path: bucket membership and the
    cosine re-rank are both reproducible in DuckDB. Probe buckets for
    the ANN query are derived driver-side with the identical fold
    (``srp_probe_buckets``); planes depend only on the embedding dim.
    Bound to sf0.01 (the driver's oracle scale) like the IVF oracle;
    {} if that parquet is missing, and raises on any other failure."""
    import duckdb
    import numpy as np

    from lexmapr_spark.ops.similarity import (
        derive_srp_bits,
        srp_hyperplanes,
        srp_probe_buckets,
    )

    batch_qids = [0, 7, 19]
    path = f"{SF001}/embeddings.parquet"
    if not os.path.exists(path):
        return {}
    con = duckdb.connect()
    batch_rows = con.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{path}') "
        f"WHERE vec_id IN ({','.join(map(str, batch_qids))}) "
        "ORDER BY vec_id").fetchall()
    n_emb = con.sql(
        f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    con.close()
    if [r[0] for r in batch_rows] != batch_qids:
        raise ValueError(f"{path}: query ids {batch_qids} missing")

    qvec = np.asarray(list(batch_rows[0][1]), dtype=np.float64)
    planes = srp_hyperplanes(len(qvec), 12)
    # banded near-dup layout: same derivation as the engine's
    # embedding_near_duplicates auto path over the 2x clone corpus
    nd_n_bands = 4
    nd_bits = derive_srp_bits(2 * n_emb, 8)
    nd_planes = srp_hyperplanes(len(qvec), nd_n_bands * nd_bits)
    # hamming pre-filter bound: same derivation as
    # embedding_near_duplicates (threshold 0.99 in the query)
    import math as _math
    _nd_theta = _math.acos(0.99) / _math.pi
    nd_max_mm = _math.ceil(nd_n_bands * nd_bits
                           * min(0.5, 2.0 * _nd_theta + 0.06))
    probes = srp_probe_buckets(qvec, np.asarray(planes), 6)
    probe_list = ",".join(f"'{b}'" for b in probes)

    # batch ANN: one per-query top-k branch per query id, each with
    # its own driver-derived probe set. Cosine uses the explicit
    # sequential-fold SQL (not list_cosine_similarity, whose
    # accumulation order differs in the last ulp and can flip the 6th
    # rounded decimal) — the same bit-exact fold as the signatures.
    dim = len(qvec)

    def _fold(a, b):
        return (f"list_sum(list_transform(generate_series(1, {dim}), "
                f"i -> ({a})[i]::DOUBLE * ({b})[i]::DOUBLE))")

    def _cos6(a, b):
        return (f"round({_fold(a, b)} / "
                f"(sqrt({_fold(a, a)}) * sqrt({_fold(b, b)})), 6)")

    batch_branches = []
    for qid, vec in batch_rows:
        v = np.asarray(list(vec), dtype=np.float64)
        plist = ",".join(
            f"'{b}'" for b in srp_probe_buckets(v, np.asarray(planes), 6))
        batch_branches.append(
            f"(SELECT CAST({qid} AS BIGINT) AS query_id, s.vec_id, "
            f"{_cos6('s.embedding', 'q.embedding')} "
            "AS cosine FROM sig s, (SELECT embedding FROM embeddings "
            f"WHERE vec_id = {qid}) q "
            f"WHERE s.bucket IN ({plist}) AND s.vec_id <> {qid} "
            "ORDER BY cosine DESC, s.vec_id ASC LIMIT 10)")

    # quantized SRP: replicate the engine's driver-side probe
    # derivation — quantize (floor(x/s + 0.5), clamp), dequantize,
    # fold — all exact IEEE-double ops shared by numpy/Spark/DuckDB
    s = float(np.abs(qvec).max() / 127.0)
    if s > 0:
        qcodes = np.clip(np.floor(qvec / s + 0.5), -127, 127)
    else:
        qcodes = np.zeros_like(qvec)
    dq = qcodes * s
    qprobes = ",".join(
        f"'{b}'" for b in srp_probe_buckets(dq, np.asarray(planes), 6))
    qt_sql = (
        "SELECT vec_id, s, list_transform(embedding, x -> "
        "CASE WHEN s > 0 THEN CAST(greatest(-127, least(127, "
        "CAST(floor(x / s + 0.5) AS INT))) AS DOUBLE) ELSE 0.0 END) "
        "AS qvec FROM (SELECT vec_id, embedding, "
        "list_max(list_transform(embedding, x -> abs(x))) / 127.0 AS s "
        "FROM embeddings)")

    emb_clones = ("(SELECT vec_id, embedding FROM embeddings UNION ALL "
                  "SELECT vec_id + 1000000 AS vec_id, embedding "
                  "FROM embeddings)")
    return {
        # exact-fold cosine everywhere (not list_cosine_similarity):
        # the engine computes double-product folds, and the builtin's
        # float accumulation flips the 6th rounded decimal for
        # boundary vectors
        "ann_cosine_topk":
            "SELECT e.vec_id, "
            f"{_cos6('e.embedding', 'q.qvec')} AS cosine "
            "FROM embeddings e, (SELECT embedding AS qvec "
            "FROM embeddings WHERE vec_id = 0) q "
            "WHERE e.vec_id <> 0 "
            "ORDER BY cosine DESC, e.vec_id ASC LIMIT 10",

        "ann_srp_bucketed_topk":
            f"WITH sig AS (SELECT vec_id, embedding, "
            f"{_srp_sig_sql(planes, 6)} AS bucket FROM embeddings), "
            f"cands AS (SELECT vec_id, embedding FROM sig "
            f"WHERE bucket IN ({probe_list}) AND vec_id <> 0), "
            "q AS (SELECT embedding AS qvec FROM embeddings "
            "WHERE vec_id = 0) "
            "SELECT c.vec_id, "
            f"{_cos6('c.embedding', 'q.qvec')} "
            "AS cosine FROM cands c, q "
            "ORDER BY cosine DESC, c.vec_id ASC LIMIT 10",

        "ann_srp_batch_topk":
            f"WITH sig AS (SELECT vec_id, embedding, "
            f"{_srp_sig_sql(planes, 6)} AS bucket FROM embeddings) "
            + " UNION ALL ".join(batch_branches),

        "ann_quantized_srp_topk":
            f"WITH qt AS ({qt_sql}), "
            "dq AS (SELECT vec_id, qvec, "
            "list_transform(qvec, x -> x * s) AS dvec FROM qt), "
            f"sig AS (SELECT vec_id, qvec, "
            f"{_srp_sig_sql(planes, 6, 'dvec')} AS bucket FROM dq), "
            "qq AS (SELECT qvec AS q_query FROM qt WHERE vec_id = 0) "
            "SELECT s2.vec_id, "
            "round(list_cosine_similarity(s2.qvec, qq.q_query), 6) "
            "AS cosine_q FROM sig s2, qq "
            f"WHERE s2.bucket IN ({qprobes}) AND s2.vec_id <> 0 "
            "ORDER BY cosine_q DESC, s2.vec_id ASC LIMIT 10",

        # banded SRP LSH (r6): n_bands * bits_per_band planes, bands
        # joined on (band_id, band_key), DISTINCT candidate pairs,
        # signature-hamming pre-filter (r7: mirrors the engine's
        # max_mismatch bound — xor of BIT strings gives the identical
        # integer), exact-fold cosine verify — bit-for-bit the
        # engine's shape. bits_per_band derives from the clone-corpus
        # count exactly like similarity.derive_srp_bits does
        # engine-side.
        "emb_near_duplicates":
            f"WITH sig AS (SELECT vec_id, "
            f"{_srp_sig_sql(nd_planes, nd_n_bands * nd_bits)} AS sig "
            f"FROM {emb_clones}), "
            "bands AS (SELECT vec_id, sig, band_id, "
            f"substr(sig, band_id * {nd_bits} + 1, {nd_bits}) "
            f"AS band_key FROM sig, range({nd_n_bands}) t(band_id)), "
            "cand AS (SELECT DISTINCT a.vec_id AS id_a, "
            "b.vec_id AS id_b FROM bands a JOIN bands b "
            "ON a.band_id = b.band_id AND a.band_key = b.band_key "
            "AND a.vec_id < b.vec_id "
            "AND bit_count(xor(CAST(a.sig AS BIT), "
            f"CAST(b.sig AS BIT))) <= {nd_max_mm}), "
            f"clones AS (SELECT * FROM {emb_clones}), "
            "scored AS (SELECT c.id_a, c.id_b, "
            f"{_cos6('va.embedding', 'vb.embedding')} "
            "AS cosine FROM cand c "
            "JOIN clones va ON va.vec_id = c.id_a "
            "JOIN clones vb ON vb.vec_id = c.id_b) "
            "SELECT id_a, id_b, cosine FROM scored "
            "WHERE cosine >= 0.99",
    }


def _pagerank_oracle_sql(iters: int, damping: float, k: int) -> str:
    """DuckDB replay of graph.pagerank_topk over the documents token
    graph: the fixed power iteration unrolls into one CTE pair per
    round. Determinism contract mirrors the engine exactly — per-edge
    contributions use the SAME left-associative double expression
    ``rank * w / out_w`` (identical IEEE results), are summed as
    DECIMAL(38,18) (order-free), and the final ranks round to 6 dp."""
    d = f"CAST({damping} AS DOUBLE)"
    parts = [
        "WITH toks AS (SELECT list_filter(string_split(text, ' '), "
        "x -> x != '') AS t FROM documents), "
        # bigram structs, NULL-dst (past-end) pairs dropped — same
        # semantics as token_adjacency_edges' try_element_at guard
        "pairs AS (SELECT unnest(list_filter(list_transform("
        "generate_series(1, len(t) - 1), "
        "i -> struct_pack(src := t[i], dst := t[i+1])), "
        "s -> s.dst IS NOT NULL)) AS p FROM toks), "
        "edges AS (SELECT p.src AS src, p.dst AS dst, "
        "CAST(count(*) AS BIGINT) AS w FROM pairs GROUP BY 1, 2), "
        "nodes AS (SELECT src AS node FROM edges "
        "UNION SELECT dst FROM edges), "
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes), "
        "ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w "
        "FROM edges GROUP BY src), "
        "r0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) "
        "AS rank FROM nodes)"]
    for i in range(1, iters + 1):
        parts.append(
            f", c{i} AS (SELECT e.dst, "
            "sum(CAST(r.rank * e.w / o.out_w AS DECIMAL(38,18))) AS cb "
            f"FROM edges e JOIN r{i - 1} r ON e.src = r.node "
            "JOIN ow o ON e.src = o.src GROUP BY e.dst)"
            f", r{i} AS (SELECT n.node, "
            f"(CAST(1 AS DOUBLE) - {d}) / (SELECT n FROM nn) "
            f"+ {d} * CAST(COALESCE(c.cb, 0) AS DOUBLE) AS rank "
            f"FROM nodes n LEFT JOIN c{i} c ON n.node = c.dst)")
    parts.append(
        f" SELECT node, round(rank, 6) AS rank FROM r{iters} "
        f"ORDER BY round(rank, 6) DESC, node LIMIT {k}")
    return "".join(parts)


def _pii_oracle_sql() -> str:
    from lexmapr_spark.ops.textstats import PII_PATTERNS

    planted = ("SELECT doc_id, text || ' contact user' || doc_id || "
               "'@example.com from 10.0.' || (doc_id % 256) || "
               "'.17 tel 555-01' || printf('%04d', (doc_id % 10000)::INT) "
               "AS text FROM documents")
    redacted = "text"
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(
            f"len(regexp_extract_all(text, '{pat}')) AS n_{name}")
        redacted = (f"regexp_replace({redacted}, '{pat}', "
                    f"'<{name.upper()}>', 'g')")
    return (f"WITH planted AS ({planted}) SELECT doc_id, "
            f"{redacted} AS redacted_text, {', '.join(counts)} "
            "FROM planted")


def _bm25_raw_sql(tf: str, df: str, k1: float, b: float) -> str:
    """The per-(doc, term) BM25 contribution with the exact constant
    folding the engine's Python builds (``k1 + 1.0``, ``1.0 - b``
    evaluated driver-side), so both engines round the identical
    double."""
    avgdl = "(CAST(total_toks AS DOUBLE) / n_docs)"
    idf = (f"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST({df} AS DOUBLE) + 0.5)"
           f" / (CAST({df} AS DOUBLE) + 0.5))")
    sat = (f"((CAST({tf} AS DOUBLE) * {k1 + 1.0!r}) / "
           f"(CAST({tf} AS DOUBLE) + {k1!r} * "
           f"({1.0 - b!r} + {b!r} * CAST(dl AS DOUBLE) / {avgdl})))")
    return f"{idf} * {sat}"


_BM25_TOKS = ("SELECT doc_id, list_filter(string_split("
              "coalesce(text, ''), ' '), x -> x <> '') AS toks "
              "FROM documents")


def _bm25_oracle_sql(terms: list[str], k: int,
                     k1: float = 1.2, b: float = 0.75) -> str:
    terms = sorted(set(terms))
    idx = range(len(terms))
    df_cols = ", ".join(
        f"sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) "
        f"AS df_{i}" for i, t in enumerate(terms))
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    contribs = ", ".join(
        f"CASE WHEN tf_{i} > 0 THEN CAST(round("
        f"{_bm25_raw_sql(f'tf_{i}', f'df_{i}', k1, b)}, 6) "
        f"AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6)) END AS c_{i}"
        for i in idx)
    total = " + ".join(f"c_{i}" for i in idx)
    any_tf = ("tf_0" if len(terms) == 1 else
              "greatest(" + ", ".join(f"tf_{i}" for i in idx) + ")")
    return (
        f"WITH t AS ({_BM25_TOKS}), "
        f"s AS (SELECT count(*) AS n_docs, sum(len(toks)) AS total_toks, "
        f"{df_cols} FROM t), "
        f"sc AS (SELECT doc_id, len(toks) AS dl, {tf_cols} FROM t), "
        f"c AS (SELECT doc_id, {contribs} FROM sc, s "
        f"WHERE {any_tf} > 0) "
        f"SELECT doc_id, round(CAST({total} AS DOUBLE), 6) AS score "
        f"FROM c ORDER BY score DESC, doc_id LIMIT {k}")


def _bm25_batch_oracle_sql(queries: list[tuple[str, list[str]]], k: int,
                           k1: float = 1.2, b: float = 0.75) -> str:
    qvals = ", ".join(f"('{qid}', '{t}')"
                      for qid, terms in queries for t in sorted(set(terms)))
    raw = _bm25_raw_sql("tf", "df", k1, b)
    return (
        f"WITH t AS ({_BM25_TOKS}), "
        f"q(query_id, term) AS (SELECT * FROM (VALUES {qvals})), "
        "s AS (SELECT count(*) AS n_docs, sum(len(toks)) AS total_toks "
        "FROM t), "
        "tdf AS (SELECT term, count(*) AS df FROM ("
        "SELECT DISTINCT dd.doc_id, dd.term FROM ("
        "SELECT doc_id, unnest(list_distinct(toks)) AS term FROM t) dd "
        "JOIN (SELECT DISTINCT term FROM q) qt USING (term)) GROUP BY term), "
        "dt AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term "
        "FROM t), "
        "tf AS (SELECT q.query_id, dt.doc_id, dt.dl, dt.term, "
        "count(*) AS tf FROM dt JOIN q USING (term) GROUP BY 1, 2, 3, 4), "
        f"c AS (SELECT query_id, doc_id, CAST(round({raw}, 6) "
        "AS DECIMAL(28,6)) AS c FROM tf JOIN tdf USING (term), s), "
        "pd AS (SELECT query_id, doc_id, sum(c) AS c_total "
        "FROM c GROUP BY 1, 2) "
        "SELECT query_id, doc_id, round(CAST(c_total AS DOUBLE), 6) "
        "AS score FROM (SELECT query_id, doc_id, c_total, row_number() "
        "OVER (PARTITION BY query_id ORDER BY c_total DESC, doc_id) AS rk "
        f"FROM pd) WHERE rk <= {k} ORDER BY query_id, score DESC, doc_id")


def oracle_sql() -> dict[str, str]:
    from lexmapr_spark.pages import _HTML_POST, _HTML_PRE

    stop_list = ",".join(f"'{w}'" for w in _STOPLIST)
    dim_values = ",".join(f"('{t}','{i}')" for t, i in _TOKEN_DIM)
    lang_hits = {
        lang: ("len(list_intersect(list_distinct(list_filter("
               "string_split(text,' '), x -> x != '')), "
               f"[{','.join(repr(w) for w in words)}]))")
        for lang, words in textstats.LANG_MARKERS.items()
    }
    greatest_hits = "greatest(" + ",".join(
        f"h.{lang}" for lang in textstats.LANG_MARKERS) + ")"
    langid_case = "CASE "
    for lang in sorted(textstats.LANG_MARKERS):
        langid_case += (f"WHEN h.{lang} > 0 AND h.{lang} = {greatest_hits} "
                        f"THEN '{lang}' ")
    langid_case += "ELSE 'und' END"

    # numeric 60-bit md5-prefix minima — mirrors dedup.minhash_signatures
    # (HashAggregate-able in Spark; bit-identical across engines)
    minhash_mins = ",".join(
        f"min(('0x' || substr(md5(concat('{j}:', tok)), 1, 15))::BIGINT) "
        f"AS mh{j}" for j in range(8))
    band_keys = ",".join(
        f"md5(concat_ws('|', mh{2 * b}, mh{2 * b + 1})) AS band{b}"
        for b in range(4))
    mh_cols = ",".join(f"mh{j}" for j in range(8))
    from lexmapr_spark.ops.dedup import signature_prefilter_bound
    # identical integer bound to the engine's
    # jaccard_near_duplicates(threshold=_LSH_THRESHOLD); None means the
    # engine skips the pre-filter, so the oracle must emit NO clause
    # (r7 review: an unconditional interpolation would render '>= None')
    lsh_min_match = signature_prefilter_bound(_LSH_THRESHOLD)
    lsh_prefilter_sql = "" if lsh_min_match is None else (
        " AND ("
        + " + ".join(f"(a.mh{j} = b.mh{j})::INT" for j in range(8))
        + f") >= {lsh_min_match}")

    _LSH_PAIRS_SQL_TEMPLATE = (
        "WITH docs2 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks "
            f"FROM {_CLONES_SQL}), "
            "toks AS (SELECT doc_id, unnest(list_filter(list_transform(generate_series(1, greatest(len(toks) - 2, 1)), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])), s -> s != '')) "
            "AS tok FROM docs2), "
            f"sigs AS (SELECT doc_id, {minhash_mins} FROM toks GROUP BY doc_id), "
            f"banded AS (SELECT doc_id, {mh_cols}, {band_keys} FROM sigs), "
            f"stacked AS (SELECT doc_id, {mh_cols}, unnest(["
            "concat('0:', band0), concat('1:', band1), "
            "concat('2:', band2), concat('3:', band3)]) AS band_key "
            "FROM banded), "
            # r7: estimated-Jaccard pre-filter (or nothing, when the
            # engine-side bound is None)
            "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM stacked a JOIN stacked b USING (band_key) "
            "WHERE a.doc_id < b.doc_id"
            f"{lsh_prefilter_sql}), "
            # r7: Jaccard verify runs over 60-bit md5-prefix HASHED
            # shingles (engine: dedup.jaccard_near_duplicates) — hash
            # construction identical on both sides
            "tsets AS (SELECT doc_id, list_distinct(list_transform("
            "list_filter(list_transform(generate_series(1, greatest(len(toks) - 2, 1)), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])), s -> s != ''), "
            "s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS toks "
            "FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks "
            f"FROM {_CLONES_SQL})) "
            "SELECT id_a, id_b, round(CAST(len(list_intersect(ta.toks, tb.toks))"
            " AS DOUBLE) / (len(ta.toks) + len(tb.toks) - "
            "len(list_intersect(ta.toks, tb.toks))), 6) AS jaccard "
            "FROM pairs JOIN tsets ta ON id_a = ta.doc_id "
            "JOIN tsets tb ON id_b = tb.doc_id "
            "WHERE round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)"
            " / (len(ta.toks) + len(tb.toks) - "
            f"len(list_intersect(ta.toks, tb.toks))), 6) >= {_LSH_THRESHOLD}")

    oracles = {
        "kg_text_extraction":
            f"SELECT doc_id, regexp_extract('{_HTML_PRE}' || text || "
            f"'{_HTML_POST}', '<p>(.*)</p>', 1) = text "
            "AS extraction_ok FROM documents",

        "s2_multicol_coalesce":
            "SELECT doc_id, trim(concat_ws(' ', lang, source)) AS joined "
            "FROM documents",

        "p1_p2_lower_punct":
            "SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),"
            " '[-_();/:%,]', ' ', 'g'), ' +', ' ', 'g')) AS processed "
            "FROM documents",

        "p5_numeric_token_filter":
            "SELECT doc_id, "
            "len(list_filter(string_split(text, ' '), "
            "    x -> try_cast(x AS DOUBLE) IS NOT NULL)) AS n_numeric_tokens, "
            "len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens "
            "FROM documents",

        "p6_preprocess":
            "SELECT doc_id, rtrim(rtrim(replace(text, '''s', ''), ''', '), "
            "'. ') AS preprocessed FROM documents",

        "p11_stopword_filter":
            f"SELECT doc_id, len(list_filter(string_split(text, ' '), "
            f"x -> x != '' AND NOT list_contains([{stop_list}], x))) "
            f"AS n_content_tokens FROM documents",

        "j1_broadcast_token_match":
            f"WITH dim(term, term_id) AS (VALUES {dim_values}), "
            "toks AS (SELECT unnest(list_filter(string_split(text, ' '), "
            "x -> x != '')) AS term FROM documents) "
            "SELECT d.term AS term, d.term_id AS term_id, count(*) AS n_mentions "
            "FROM toks t JOIN dim d USING (term) GROUP BY 1, 2",

        "agg_event_histogram":
            "SELECT event_type, count(*) AS n, "
            "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value "
            "FROM events GROUP BY event_type",

        "agg_tpch_pricing":
            "SELECT l_returnflag, l_linestatus, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) "
            "AS DOUBLE) AS sum_disc_price, count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= DATE '1998-09-01' "
            "GROUP BY l_returnflag, l_linestatus",

        "join_orders_customer":
            "SELECT c_mktsegment, count(*) AS n_orders, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY c_mktsegment",

        "agg_distinct_customers":
            "SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_customers "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY c_mktsegment",

        "agg_rollup_pricing":
            "SELECT l_returnflag, l_linestatus, count(*) AS n, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
            "AS sum_qty FROM lineitem "
            "GROUP BY ROLLUP (l_returnflag, l_linestatus)",

        "agg_value_quantiles":
            "SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50, "
            "round(quantile_cont(value, 0.9), 6) AS p90 "
            "FROM events GROUP BY event_type",

        "set_customers_with_orders":
            "SELECT c_custkey AS custkey FROM customer "
            "INTERSECT SELECT o_custkey AS custkey FROM orders",

        "set_multi_lineitem_orders":
            "SELECT l_orderkey AS okey FROM lineitem "
            "EXCEPT ALL SELECT o_orderkey AS okey FROM orders",

        "sessionize_events_batch":
            "SELECT user_id, event_id, CAST(sum(new_session) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM ("
            "SELECT user_id, event_id, ts, CASE WHEN "
            "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
            "IS NULL OR epoch(ts) - epoch(lag(ts) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id)) > 1800 "
            "THEN 1 ELSE 0 END AS new_session FROM events)",

        # identical tie rule to ops/joins.asof_join: latest ts wins,
        # largest event_id among exact-ts ties, at-or-before inclusive
        "events_asof_attribution":
            "SELECT p.event_id, p.user_id, "
            "(SELECT c.event_id FROM events c WHERE "
            "c.event_type = 'click' AND c.user_id = p.user_id "
            "AND c.ts <= p.ts ORDER BY c.ts DESC, c.event_id DESC "
            "LIMIT 1) AS click_id "
            "FROM events p WHERE p.event_type = 'purchase'",

        "events_range_join":
            "WITH iv AS (SELECT user_id AS iv_user, "
            "strftime(ts, '%Y-%m-%d') AS day, min(ts) AS start_ts "
            "FROM events GROUP BY 1, 2), "
            "iv2 AS (SELECT iv_user, day, start_ts, "
            "start_ts + INTERVAL 30 MINUTE AS end_ts FROM iv) "
            "SELECT iv_user, day, count(*) AS n_events, "
            "CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum "
            "FROM iv2 JOIN events e ON e.ts >= iv2.start_ts "
            "AND e.ts <= iv2.end_ts GROUP BY 1, 2",

        # nearest = smallest |delta| in exact integer microseconds;
        # ties: backward preferred ((c.ts > p.ts) ASC), then largest
        # id among backward candidates / smallest among forward — the
        # pinned asof_join(direction="nearest") rule
        "events_asof_nearest":
            "SELECT p.event_id, p.user_id, "
            "(SELECT c.event_id FROM events c WHERE "
            "c.event_type = 'click' AND c.user_id = p.user_id "
            "AND c.ts IS NOT NULL "
            "ORDER BY abs(date_diff('microsecond', p.ts, c.ts)) ASC, "
            "(c.ts > p.ts) ASC, "
            "CASE WHEN c.ts <= p.ts THEN -c.event_id "
            "ELSE c.event_id END ASC LIMIT 1) AS click_id "
            "FROM events p WHERE p.event_type = 'purchase' "
            "AND p.ts IS NOT NULL "
            "UNION ALL "
            "SELECT p.event_id, p.user_id, NULL AS click_id "
            "FROM events p WHERE p.event_type = 'purchase' "
            "AND p.ts IS NULL",

        "json_extract_props":
            "SELECT event_id, try_cast(json_extract_string(props, '$.k') "
            "AS BIGINT) AS k FROM events",

        "window_user_event_seq":
            "SELECT user_id, event_id, seq FROM ("
            "SELECT user_id, event_id, row_number() OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id) AS seq "
            "FROM events) WHERE seq <= 3",

        "set_customers_without_orders":
            "SELECT c_custkey AS custkey FROM customer "
            "EXCEPT SELECT o_custkey AS custkey FROM orders",

        "sort_topk_orders":
            "SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) "
            "AS totalprice FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10",

        "dedup_exact":
            f"SELECT md5(text) AS text_md5, count(*) AS n_dupes, "
            f"min(doc_id) AS keeper_id FROM {_CLONES_SQL} "
            "GROUP BY md5(text) HAVING count(*) > 1",

        "dedup_minhash_signatures":
            "WITH docs2 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks "
            "FROM documents), "
            "toks AS (SELECT doc_id, unnest(list_filter(list_transform(generate_series(1, greatest(len(toks) - 2, 1)), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])), s -> s != '')) "
            "AS tok FROM docs2) "
            f"SELECT doc_id, {minhash_mins} FROM toks GROUP BY doc_id",

        "dedup_minhash_lsh": _LSH_PAIRS_SQL_TEMPLATE,

        # the kept corpus under the drop-the-higher-id policy: docs
        # never appearing as id_b of a verified near-dup pair
        "dedup_near_dup_filter":
            f"SELECT doc_id FROM {_CLONES_SQL} WHERE doc_id NOT IN "
            f"(SELECT id_b FROM ({_LSH_PAIRS_SQL_TEMPLATE}))",

        # cluster-consistent keeper: exact transitive closure over the
        # verified pair set (bounded — pairs are few at oracle scale),
        # component representative = min reachable id, drop everything
        # else in the component
        "dedup_near_dup_components":
            "WITH RECURSIVE pairs0 AS (" + _LSH_PAIRS_SQL_TEMPLATE + "), "
            "sym AS (SELECT id_a AS src, id_b AS dst FROM pairs0 "
            "UNION SELECT id_b, id_a FROM pairs0), "
            "reach AS (SELECT src, dst FROM sym UNION "
            "SELECT r.src, s.dst FROM reach r JOIN sym s "
            "ON r.dst = s.src), "
            "comp AS (SELECT src AS node, least(src, min(dst)) "
            "AS component FROM reach GROUP BY src) "
            f"SELECT doc_id FROM {_CLONES_SQL} WHERE doc_id NOT IN "
            "(SELECT node FROM comp WHERE node <> component)",

        # the (doc, cluster-min) assignment table itself
        "dedup_near_dup_clusters":
            "WITH RECURSIVE pairs0 AS (" + _LSH_PAIRS_SQL_TEMPLATE + "), "
            "sym AS (SELECT id_a AS src, id_b AS dst FROM pairs0 "
            "UNION SELECT id_b, id_a FROM pairs0), "
            "reach AS (SELECT src, dst FROM sym UNION "
            "SELECT r.src, s.dst FROM reach r JOIN sym s "
            "ON r.dst = s.src) "
            "SELECT src AS doc_id, least(src, min(dst)) AS cluster_id "
            "FROM reach GROUP BY src",



        # SimHash reproduced bit-for-bit in SQL: per distinct token,
        # uint64 = first 16 md5 hex chars; each of the 64 bits
        # contributes +1/-1; sign-fold bit 63 back into Spark's signed
        # LongType. Pairs compared brute-force — valid oracle because
        # the engine's 4x16-bit block-LSH is EXACT for hamming<=3
        # (pigeonhole), so the bucketed and brute-force pair sets agree.
        "dedup_simhash":
            f"WITH docs2 AS (SELECT doc_id, text FROM {_CLONES_SQL}), "
            "toks AS (SELECT doc_id, unnest(list_distinct(list_filter("
            "string_split(text, ' '), x -> x != ''))) AS tok FROM docs2), "
            "bits AS (SELECT doc_id, j, sum(CASE WHEN "
            "(('0x' || substr(md5(tok), 1, 16))::UBIGINT >> j) & 1 = 1 "
            "THEN 1 ELSE -1 END) AS acc "
            "FROM toks, (SELECT unnest(generate_series(0, 63)) AS j) "
            "GROUP BY doc_id, j), "
            "folded AS (SELECT doc_id, CAST("
            "sum(CASE WHEN acc > 0 THEN (1::HUGEINT << j) ELSE 0 END) - "
            "CASE WHEN max(CASE WHEN j = 63 AND acc > 0 THEN 1 ELSE 0 END) = 1 "
            "THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT) AS simhash "
            "FROM bits GROUP BY doc_id), "
            "sims AS (SELECT d.doc_id, coalesce(f.simhash, 0) AS simhash "
            "FROM docs2 d LEFT JOIN folded f USING (doc_id)) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "bit_count(xor(a.simhash, b.simhash)) AS hamming "
            "FROM sims a JOIN sims b ON a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3",

        # synth_media is a closed form over the row index: kind cycles
        # image/audio/video, payload is always a 128-byte digest x4,
        # video duration = 1000 + i % 60000 — so the two synthetic
        # queries' outputs are plain SQL over range(300) even though
        # the payload bytes themselves only flow through the *_docs
        # oracle below
        "multimodal_features":
            "SELECT i AS media_id, "
            "list_extract(['image','audio','video'], (i % 3 + 1)::INT) "
            "AS kind, 128 AS n_bytes FROM range(300) t(i)",

        "multimodal_frame_plan":
            "SELECT i AS media_id, "
            "((1000 + i % 60000) // 5000 + 1) AS n_frames "
            "FROM range(300) t(i) WHERE i % 3 = 2",

        # fake decoder = sha256(kind + payload bytes); VARCHAR in both
        # engines is UTF-8, so sha256(kind || text) reproduces it.
        # Features serialized to a CSV string (%.6f per element) so the
        # output is scalar-only (driver canonicalizer sorts raw columns)
        "multimodal_features_docs":
            "WITH media AS (SELECT doc_id AS media_id, "
            "list_extract(['image','audio','video'], "
            "(doc_id % 3 + 1)::INT) AS kind, text FROM documents), "
            "hashed AS (SELECT media_id, kind, "
            "octet_length(encode(text))::INT AS n_bytes, "
            "sha256(kind || text) AS h FROM media) "
            "SELECT media_id, kind, n_bytes, concat_ws(',', "
            + ", ".join(
                f"printf('%.6f', (('0x' || substr(h, {2 * j + 1}, 2))::INT)"
                " / 255.0)"
                for j in range(16))
            + ") AS features FROM hashed",

        "multimodal_frame_plan_docs":
            "SELECT doc_id AS media_id, "
            "unnest(generate_series(0, (1000 + (doc_id * 37) % 9000)::INT, "
            "1000)) AS frame_ts_ms "
            "FROM documents WHERE doc_id % 3 = 2",

        # real-codec decode: synth_media_real payloads are closed-form
        # in i, so the DECODED features are too — a gray BMP (value
        # (i*7)%256) has a one-hot luma histogram at bin v//16 (integer
        # BT.601 luma of R=G=B=v is exactly v); a constant-amplitude
        # k*512 WAV has per-segment RMS exactly k/64 (6-decimal-exact);
        # a 2-frame gray P6 stream averages two one-hot histograms.
        # n_bytes are the fixed encoded sizes (BMP 54+48, WAV 44+320,
        # 2 x 59-byte PPM).
        "multimodal_real_decode":
            "SELECT i AS media_id, "
            "list_extract(['image','audio','video'], (i % 3 + 1)::INT) "
            "AS kind, "
            "list_extract([102, 364, 118], (i % 3 + 1)::INT) AS n_bytes, "
            "array_to_string(list_transform(range(0, 16), j -> "
            "printf('%.6f', CASE i % 3 "
            " WHEN 0 THEN CASE WHEN j = ((i*7) % 256) // 16 "
            "   THEN 1.0 ELSE 0.0 END "
            " WHEN 1 THEN ((i*13) % 64) / 64.0 "
            " ELSE (CASE WHEN j = ((i*5) % 256) // 16 THEN 0.5 "
            "   ELSE 0.0 END) + (CASE WHEN j = ((i*11) % 256) // 16 "
            "   THEN 0.5 ELSE 0.0 END) END)), ',') AS features "
            "FROM range(300) t(i)",

        # ann_cosine_topk's oracle lives in _srp_oracle_sqls (it needs
        # the embedding dim for the exact-fold cosine)

        "text_token_count":
            "SELECT doc_id, "
            "len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens, "
            "len(list_filter(string_split_regex(regexp_replace(text, "
            "'([^\\sA-Za-z0-9])', ' \\1 ', 'g'), '\\s+'), x -> x != '')) "
            "AS n_subword_tokens FROM documents",

        # PII patterns are RE2-subset so Java regex and DuckDB RE2
        # agree; replacement nesting mirrors redact_pii's order
        # (email -> ipv4 -> phone), counts per kind on the raw text
        "text_pii_redaction": _pii_oracle_sql(),

        # standard n-gram semantics both sides: <8-token docs emit NO
        # grams (DuckDB's generate_series(1, len-7) is empty when
        # len < 8, matching Spark's CASE guard in ngrams_col)
        "text_contamination":
            "WITH dg AS (SELECT doc_id, unnest(list_filter(list_transform("
            "generate_series(1, len(toks) - 7), "
            "i -> concat_ws(' ', " +
            ", ".join(f"toks[i+{j}]" for j in range(8)) +
            ")), s -> s != '')) AS gram FROM ("
            "SELECT doc_id, list_filter(string_split(text, ' '), "
            "x -> x != '') AS toks FROM documents)), "
            "pg AS (SELECT DISTINCT gram FROM dg WHERE doc_id < 5) "
            "SELECT doc_id, count(DISTINCT gram) AS n_contaminated_ngrams "
            "FROM dg JOIN pg USING (gram) GROUP BY doc_id",

        # corpus 3-gram stats: same gram builder as text_contamination,
        # then the same two stacked aggs as the engine (per-doc counts
        # first, so n_docs is a plain COUNT, no DISTINCT expansion)
        "text_ngram_counts":
            "WITH dg AS (SELECT doc_id, unnest(list_filter(list_transform("
            "generate_series(1, len(toks) - 2), "
            "i -> concat_ws(' ', toks[i+0], toks[i+1], toks[i+2])), "
            "s -> s != '')) AS ngram FROM ("
            "SELECT doc_id, list_filter(string_split(text, ' '), "
            "x -> x != '') AS toks FROM documents)), "
            "pd AS (SELECT ngram, doc_id, count(*) AS c FROM dg "
            "GROUP BY 1, 2) "
            "SELECT ngram, CAST(sum(c) AS BIGINT) AS total_count, "
            "CAST(count(*) AS BIGINT) AS n_docs FROM pd "
            "GROUP BY ngram HAVING sum(c) >= 3",

        "text_ngram_topk":
            "WITH dg AS (SELECT doc_id, unnest(list_filter(list_transform("
            "generate_series(1, len(toks) - 1), "
            "i -> concat_ws(' ', toks[i+0], toks[i+1])), "
            "s -> s != '')) AS ngram FROM ("
            "SELECT doc_id, list_filter(string_split(text, ' '), "
            "x -> x != '') AS toks FROM documents)), "
            "pd AS (SELECT ngram, doc_id, count(*) AS c FROM dg "
            "GROUP BY 1, 2), "
            "agg AS (SELECT ngram, CAST(sum(c) AS BIGINT) AS total_count, "
            "CAST(count(*) AS BIGINT) AS n_docs FROM pd GROUP BY ngram) "
            "SELECT * FROM agg ORDER BY total_count DESC, ngram LIMIT 100",

        "graph_pagerank": _pagerank_oracle_sql(iters=5, damping=0.85,
                                               k=100),

        # BM25: identical constant folding, per-term contributions
        # rounded to 6 dp and summed as DECIMAL(28,6) in both engines
        "search_bm25_topk": _bm25_oracle_sql(BM25_QUERY_TERMS, k=20),
        "search_bm25_batch": _bm25_batch_oracle_sql(BM25_BATCH_QUERIES,
                                                    k=10),
        # the stored-index and merged-index paths must reproduce the
        # direct scores exactly — same oracle
        "search_bm25_indexed": _bm25_oracle_sql(BM25_QUERY_TERMS, k=20),
        "search_bm25_merged": _bm25_oracle_sql(BM25_QUERY_TERMS, k=20),
        "search_bm25_batch_indexed": _bm25_batch_oracle_sql(
            BM25_BATCH_QUERIES, k=10),

        # PMI bigram collocations: integer counts exact in both
        # engines; the 6-dp-rounded PMI is the ordering key
        "text_pmi_collocations":
            "WITH t AS (SELECT list_filter(string_split("
            "coalesce(text, ''), ' '), x -> x <> '') AS toks "
            "FROM documents), "
            "uc AS (SELECT token, count(*) AS c FROM ("
            "SELECT unnest(toks) AS token FROM t) GROUP BY token), "
            "tot AS (SELECT sum(len(toks)) AS total_toks, "
            "sum(CASE WHEN len(toks) > 1 THEN len(toks) - 1 ELSE 0 END) "
            "AS total_pairs FROM t), "
            "bc AS (SELECT bigram, count(*) AS pair_count FROM ("
            "SELECT unnest(list_filter(list_transform("
            "generate_series(1, len(toks) - 1), "
            "i -> concat_ws(' ', toks[i+0], toks[i+1])), s -> s != '')) "
            "AS bigram FROM t) GROUP BY bigram "
            "HAVING count(*) >= 5), "
            "j AS (SELECT bigram, pair_count, "
            "string_split(bigram, ' ')[1] AS a, "
            "string_split(bigram, ' ')[2] AS b FROM bc) "
            "SELECT bigram, pair_count, round(ln("
            "(CAST(pair_count AS DOUBLE) / total_pairs) / "
            "((CAST(ua.c AS DOUBLE) / total_toks) * "
            "(CAST(ub.c AS DOUBLE) / total_toks))), 6) AS pmi "
            "FROM j JOIN uc ua ON ua.token = j.a "
            "JOIN uc ub ON ub.token = j.b, tot "
            "ORDER BY pmi DESC, bigram LIMIT 100",

        # 60-bit md5-prefix hash sampling — same construction both
        # engines (threshold = int(0.1 * 2^60))
        "sample_hash_10pct":
            "SELECT doc_id, lang, source FROM documents WHERE "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
            f" < {int(0.1 * (1 << 60))}",

        "sample_domain_cap":
            "SELECT doc_id, source FROM ("
            "SELECT doc_id, source, row_number() OVER ("
            "PARTITION BY source ORDER BY "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, "
            "doc_id) AS rn FROM documents) WHERE rn <= 10",

        "sample_mixture":
            "SELECT doc_id, source FROM documents WHERE "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
            " < CASE WHEN source = 'src0' THEN "
            f"{int(1.0 * (1 << 60))} WHEN source = 'src1' THEN "
            f"{int(0.25 * (1 << 60))} ELSE {int(0.05 * (1 << 60))} END",

        # upsample twin: same hash space, floor(rate) copies + one
        # fractional copy under the remainder threshold (thresholds
        # computed with the identical Python float arithmetic the
        # engine inlines)
        "sample_mixture_upsample":
            "WITH b AS (SELECT doc_id, source, "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
            " AS h FROM documents), "
            "n AS (SELECT doc_id, source, "
            "CASE WHEN source = 'src0' THEN 2 ELSE 0 END + "
            "CASE WHEN h < CASE WHEN source = 'src0' THEN "
            f"{int((2.5 - 2) * (1 << 60))} WHEN source = 'src1' THEN "
            f"{int(0.25 * (1 << 60))} ELSE {int(0.05 * (1 << 60))} END "
            "THEN 1 ELSE 0 END AS k FROM b) "
            "SELECT doc_id, source FROM (SELECT doc_id, source, "
            "unnest(generate_series(1, k)) AS r FROM n WHERE k > 0)",

        # split thresholds replicate assign_splits' cumulative Python
        # float accumulation exactly (0.8, then 0.8 + 0.1 — NOT 0.9:
        # the binary sum is 0.9000000000000001 and the engine inlines
        # that product, so the oracle must too)
        "sample_split_assign":
            "SELECT doc_id, source, CASE "
            f"WHEN h < {int(0.8 * (1 << 60))} THEN 'train' "
            f"WHEN h < {int((0.8 + 0.1) * (1 << 60))} THEN 'val' "
            "ELSE 'test' END AS split FROM ("
            "SELECT doc_id, source, "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
            # engine parity: assign_splits DROPS NULL keys (md5(NULL)
            # would otherwise fall every corrupt row into 'test')
            " AS h FROM documents WHERE doc_id IS NOT NULL)",

        "text_quality": _quality_oracle_sql(),

        "text_langid":
            "SELECT doc_id, " + langid_case + " AS lang_pred FROM ("
            "SELECT doc_id, "
            + ",".join(f"{expr} AS {lang}" for lang, expr in lang_hits.items())
            + " FROM documents) h",

        "text_fingerprint":
            "SELECT doc_id, md5(list_aggregate(list_sort(list_distinct("
            "list_filter(string_split(text, ' '), x -> x != ''))), "
            "'string_agg', ' ')) AS fingerprint FROM documents",

        # integral sums/avgs are exact in both engines, so even
        # mean_tokens round-trips at 6 dp
        "corpus_stats":
            "SELECT * FROM ("
            "SELECT count(*) AS n_docs, "
            "CAST(sum(strlen(text)) AS BIGINT) AS total_bytes, "
            "CAST(sum(n) AS BIGINT) AS total_tokens, "
            "round(avg(n), 6) AS mean_tokens, max(n) AS max_tokens, "
            "count(DISTINCT md5(text)) AS n_distinct_texts FROM ("
            "SELECT text, len(list_filter(string_split(text, ' '), "
            "x -> x != '')) AS n FROM documents)) CROSS JOIN ("
            "SELECT count(DISTINCT t) AS vocab_size FROM ("
            "SELECT unnest(list_filter(string_split(text, ' '), "
            "x -> x != '')) AS t FROM documents))",

        # lang filter -> quality gate -> fingerprint window-dedup,
        # composed from the three oracled primitives above
        "curation_pipeline":
            "WITH h AS (SELECT doc_id, "
            + ",".join(f"{expr} AS {lang}"
                       for lang, expr in lang_hits.items())
            + " FROM documents), "
            f"lid AS (SELECT doc_id, {langid_case} AS lang_pred FROM h), "
            f"qual AS ({_quality_oracle_sql()}), "
            "fp AS (SELECT doc_id, md5(list_aggregate(list_sort("
            "list_distinct(list_filter(string_split(text, ' '), "
            "x -> x != ''))), 'string_agg', ' ')) AS fingerprint "
            "FROM documents), "
            "passed AS (SELECT lid.doc_id, lang_pred, quality, fingerprint "
            "FROM lid JOIN qual USING (doc_id) JOIN fp USING (doc_id) "
            "WHERE lang_pred = 'en' AND quality >= 0.3) "
            "SELECT doc_id, lang_pred, quality, fingerprint FROM ("
            "SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS k "
            "FROM passed) WHERE doc_id = k",

        # v2: + Gopher dup-word gate + probe-gram decontamination
        # (hits computed over ALL docs is equivalent to Spark's
        # post-gate probing — the anti-join only ever removes gated
        # survivors)
        "curation_pipeline_v2":
            "WITH h AS (SELECT doc_id, "
            + ",".join(f"{expr} AS {lang}"
                       for lang, expr in lang_hits.items())
            + " FROM documents), "
            f"lid AS (SELECT doc_id, {langid_case} AS lang_pred FROM h), "
            f"qual AS ({_quality_oracle_sql()}), "
            "fp AS (SELECT doc_id, md5(list_aggregate(list_sort("
            "list_distinct(list_filter(string_split(text, ' '), "
            "x -> x != ''))), 'string_agg', ' ')) AS fingerprint "
            "FROM documents), "
            "rep AS (SELECT doc_id, round(CAST(sum(c) - count(*) AS "
            "DOUBLE) / sum(c), 6) AS dup_word_frac FROM ("
            "SELECT doc_id, tok, count(*) AS c FROM ("
            "SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
            "x -> x != '')) AS tok FROM documents) GROUP BY doc_id, tok)"
            " GROUP BY doc_id), "
            "dg AS (SELECT doc_id, unnest(list_filter(list_transform("
            "generate_series(1, len(toks) - 7), "
            "i -> concat_ws(' ', " +
            ", ".join(f"toks[i+{j}]" for j in range(8)) +
            ")), s -> s != '')) AS gram FROM ("
            "SELECT doc_id, list_filter(string_split(text, ' '), "
            "x -> x != '') AS toks FROM documents)), "
            "pg AS (SELECT DISTINCT gram FROM dg WHERE doc_id < 5), "
            "hits AS (SELECT DISTINCT doc_id FROM dg "
            "JOIN pg USING (gram)), "
            "passed AS (SELECT lid.doc_id, lang_pred, quality, "
            "fingerprint, coalesce(rep.dup_word_frac, 0.0) "
            "AS dup_word_frac "
            "FROM lid JOIN qual USING (doc_id) JOIN fp USING (doc_id) "
            "LEFT JOIN rep USING (doc_id) "
            "WHERE lang_pred = 'en' AND quality >= 0.3 "
            "AND coalesce(rep.dup_word_frac, 0.0) <= 0.9 "
            "AND lid.doc_id NOT IN (SELECT doc_id FROM hits)) "
            "SELECT doc_id, lang_pred, quality, fingerprint, "
            "dup_word_frac FROM ("
            "SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS k "
            "FROM passed) WHERE doc_id = k",
    }
    oracles.update(_ivf_oracle_sqls())
    oracles.update(_srp_oracle_sqls())
    oracles["conf_scoring"] = _conf_oracle_sql()
    oracles["text_repetition"] = _repetition_oracle_sql()
    oracles["text_perplexity"] = _perplexity_oracle_sql()
    oracles["ann_quantized_topk"] = (
        "WITH qt AS (SELECT vec_id, list_transform(embedding, x -> "
        "CASE WHEN s > 0 THEN CAST(greatest(-127, least(127, "
        "CAST(floor(x / s + 0.5) AS INT))) AS DOUBLE) ELSE 0.0 END) "
        "AS qvec FROM (SELECT vec_id, embedding, "
        "list_max(list_transform(embedding, x -> abs(x))) / 127.0 AS s "
        "FROM embeddings)), "
        "qq AS (SELECT qvec AS q_query FROM qt WHERE vec_id = 0) "
        "SELECT vec_id, "
        "round(list_cosine_similarity(qt.qvec, qq.q_query), 6) "
        "AS cosine_q FROM qt, qq WHERE vec_id <> 0 "
        "ORDER BY cosine_q DESC, vec_id ASC LIMIT 10")
    oracles["pack_sequences_2k"] = (
        "WITH t AS (SELECT doc_id, "
        "len(list_filter(string_split(text, ' '), x -> x <> '')) "
        "AS n_tokens, "
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
        "AS hkey FROM documents), "
        "f AS (SELECT *, CAST(hkey % 32 AS INT) AS bucket FROM t "
        "WHERE n_tokens > 0), "
        "c AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER ("
        "ORDER BY bucket, hkey, doc_id ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING), 0) AS gcum FROM f) "
        "SELECT doc_id, n_tokens, "
        "CAST(floor(gcum / 2048.0) AS BIGINT) AS pack_id, "
        "CAST(gcum % 2048 AS BIGINT) AS pack_offset FROM c")
    oracles["pack_examples_512"] = (
        "WITH t AS (SELECT doc_id, "
        "len(list_filter(string_split(text, ' '), x -> x <> '')) "
        "AS n_tokens, "
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
        "AS hkey FROM documents), "
        "f AS (SELECT *, CAST(hkey % 32 AS INT) AS bucket FROM t "
        "WHERE n_tokens > 0), "
        "c AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER ("
        "ORDER BY bucket, hkey, doc_id ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING), 0) AS gcum FROM f) "
        "SELECT CAST(floor(gcum / 512.0) AS BIGINT) AS pack_id, "
        "string_agg(text, ' ' ORDER BY gcum) AS text, "
        "count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens "
        "FROM c JOIN documents USING (doc_id) GROUP BY 1")
    oracles["dedup_global_lines"] = (
        "WITH d AS (SELECT doc_id, replace(text, ' ', chr(10)) AS text "
        "FROM documents), "
        "p AS (SELECT doc_id, string_split(text, chr(10)) AS parts "
        "FROM d), "
        "l AS (SELECT doc_id, unnest(generate_series(1, len(parts))) "
        "AS i, parts FROM p), "
        "ln AS (SELECT doc_id, i - 1 AS pos, parts[i] AS line FROM l), "
        "kept AS (SELECT doc_id, pos, line FROM ("
        "SELECT *, row_number() OVER (PARTITION BY line "
        "ORDER BY doc_id, pos) AS rn FROM ln) WHERE rn = 1), "
        "rebuilt AS (SELECT doc_id, string_agg(line, chr(10) "
        "ORDER BY pos) AS deduped_text FROM kept GROUP BY doc_id) "
        "SELECT d.doc_id, coalesce(rebuilt.deduped_text, '') "
        "AS deduped_text FROM d LEFT JOIN rebuilt USING (doc_id)")
    oracles["dedup_exact_substring"] = (
        f"WITH d AS (SELECT doc_id, text FROM {_CLONES_SQL}), "
        "tk AS (SELECT doc_id, list_filter(string_split(text, ' '), "
        "x -> x != '') AS t FROM d), "
        "ch AS (SELECT doc_id, unnest(generate_series(0, len(t)//8 - 1)) "
        "AS c, t FROM tk WHERE len(t) >= 8), "
        "g AS (SELECT doc_id, c, array_to_string("
        "list_slice(t, c*8 + 1, c*8 + 8), ' ') AS gram FROM ch), "
        "kept AS (SELECT doc_id, c, gram FROM (SELECT *, row_number() "
        "OVER (PARTITION BY gram ORDER BY doc_id, c) AS rn FROM g) "
        "WHERE rn = 1), "
        "tails AS (SELECT doc_id, len(t)//8 AS c, array_to_string("
        "list_slice(t, (len(t)//8)*8 + 1, len(t)), ' ') AS gram "
        "FROM tk WHERE len(t) % 8 != 0 AND len(t) > 0), "
        "rebuilt AS (SELECT doc_id, string_agg(gram, ' ' ORDER BY c) "
        "AS deduped_text, count(*) AS kc FROM (SELECT * FROM kept "
        "UNION ALL SELECT * FROM tails) GROUP BY doc_id), "
        "cnt AS (SELECT doc_id, len(t)//8 + CASE WHEN len(t) % 8 != 0 "
        "THEN 1 ELSE 0 END AS n FROM tk) "
        "SELECT d.doc_id, CASE WHEN coalesce(rebuilt.kc, 0) = cnt.n "
        "THEN d.text ELSE coalesce(rebuilt.deduped_text, '') END "
        "AS deduped_text FROM d JOIN cnt USING (doc_id) "
        "LEFT JOIN rebuilt USING (doc_id)")
    # CDC ExactSubstr: same md5-derived cut rule (content-defined
    # chunk starts), same min(doc, chunk) keeper, shifted-clone corpus
    oracles["dedup_exact_substring_cdc"] = (
        "WITH d AS (SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 1000000 AS doc_id, 'px ' || text AS text "
        "FROM documents), "
        "tk AS (SELECT doc_id, text, list_filter(string_split(text, ' '), "
        "x -> x != '') AS t FROM d), "
        "st AS (SELECT doc_id, t, CASE WHEN len(t) = 0 THEN "
        "CAST([] AS INT[]) WHEN len(t) = 1 THEN [1] ELSE "
        "list_concat([1], CAST(list_filter(generate_series(2, len(t)), "
        "i -> ('0x' || substr(md5(t[i]), 1, 15))::BIGINT % 8 = 0) "
        "AS INT[])) END AS s FROM tk), "
        "jx AS (SELECT doc_id, t, s, unnest(generate_series(1, len(s))) "
        "AS j FROM st WHERE len(s) >= 1), "
        "ch AS (SELECT doc_id, j AS c, "
        "coalesce(s[j+1], len(t) + 1) - s[j] AS glen, "
        "array_to_string(list_slice(t, s[j], "
        "coalesce(s[j+1], len(t) + 1) - 1), ' ') AS gram FROM jx), "
        "short AS (SELECT doc_id, c, gram FROM ch WHERE glen < 4), "
        "kept AS (SELECT doc_id, c, gram FROM (SELECT *, row_number() "
        "OVER (PARTITION BY gram ORDER BY doc_id, c) AS rn FROM ch "
        "WHERE glen >= 4) WHERE rn = 1), "
        "rebuilt AS (SELECT doc_id, string_agg(gram, ' ' ORDER BY c) "
        "AS deduped_text, count(*) AS kc FROM (SELECT * FROM kept "
        "UNION ALL SELECT * FROM short) GROUP BY doc_id), "
        "cnt AS (SELECT doc_id, len(s) AS n FROM st) "
        "SELECT d.doc_id, CASE WHEN coalesce(rebuilt.kc, 0) = cnt.n "
        "THEN d.text ELSE coalesce(rebuilt.deduped_text, '') END "
        "AS deduped_text FROM d JOIN cnt USING (doc_id) "
        "LEFT JOIN rebuilt USING (doc_id)")
    # cross-run incremental dedup: mirrors dedup.dedup_against_index —
    # exact md5 screen + band-join + signature-estimated Jaccard
    # (fraction of equal minhash components) >= 0.5. Safe to use plain
    # unnest (vs Spark's explode_outer) because the documents table
    # has no empty/sub-shingle texts at any SF (asserted offline).
    _shingle_unnest = (
        "unnest(list_filter(list_transform(generate_series(1, "
        "greatest(len(toks) - 2, 1)), i -> concat_ws(' ', toks[i], "
        "toks[i+1], toks[i+2])), s -> s != '')) AS tok")
    _est_eq = "(" + " + ".join(
        f"CASE WHEN n.mh{j} = o.mh{j} THEN 1 ELSE 0 END"
        for j in range(8)) + ") / 8.0"
    _band_unnest = ("unnest([concat('0:', band0), concat('1:', band1), "
                    "concat('2:', band2), concat('3:', band3)]) "
                    "AS band_key")
    oracles["dedup_incremental"] = (
        "WITH oldd AS (SELECT doc_id, text FROM documents), "
        "newd AS (SELECT doc_id + 1000000 AS doc_id, text "
        "FROM documents WHERE doc_id % 2 = 0 "
        "UNION ALL SELECT doc_id + 2000000 AS doc_id, "
        "text || ' xq7' AS text FROM documents WHERE doc_id % 4 = 1 "
        "UNION ALL SELECT doc_id + 3000000 AS doc_id, "
        "'novel page ' || CAST(doc_id + 3000000 AS VARCHAR) || "
        "' entirely fresh tokens qz17 unseen' AS text "
        "FROM documents WHERE doc_id % 4 = 3), "
        "osh AS (SELECT doc_id, md5(text) AS text_md5, "
        f"{_shingle_unnest} FROM (SELECT doc_id, text, "
        "list_filter(string_split(text, ' '), x -> x != '') AS toks "
        "FROM oldd)), "
        f"oidx AS (SELECT doc_id, text_md5, {minhash_mins} FROM osh "
        "GROUP BY doc_id, text_md5), "
        "nsh AS (SELECT doc_id, md5(text) AS text_md5, "
        f"{_shingle_unnest} FROM (SELECT doc_id, text, "
        "list_filter(string_split(text, ' '), x -> x != '') AS toks "
        "FROM newd)), "
        f"nidx AS (SELECT doc_id, text_md5, {minhash_mins} FROM nsh "
        "GROUP BY doc_id, text_md5), "
        f"ostack AS (SELECT *, {_band_unnest} FROM "
        f"(SELECT *, {band_keys} FROM oidx)), "
        f"nstack AS (SELECT *, {_band_unnest} FROM "
        f"(SELECT *, {band_keys} FROM nidx)), "
        "dropped AS (SELECT doc_id FROM nidx WHERE text_md5 IN "
        "(SELECT text_md5 FROM oidx) "
        "UNION SELECT n.doc_id FROM nstack n JOIN ostack o "
        f"USING (band_key) WHERE {_est_eq} >= 0.5) "
        "SELECT doc_id, md5(text) AS text_md5 FROM newd "
        "WHERE doc_id NOT IN (SELECT doc_id FROM dropped)")
    # merged-index twin: old = batches A ∪ B (the md5-collapse the
    # engine's merge performs cannot change screen outcomes — both
    # screens are membership/est tests over identical signatures)
    oracles["dedup_incremental_merged"] = (
        "WITH oldd AS (SELECT doc_id, text FROM documents "
        "WHERE doc_id % 3 IN (0, 1)), "
        "newd AS (SELECT doc_id + 1000000 AS doc_id, text "
        "FROM documents WHERE doc_id % 6 = 0 "
        "UNION ALL SELECT doc_id + 2000000 AS doc_id, "
        "text || ' xq7' AS text FROM documents WHERE doc_id % 6 = 1 "
        "UNION ALL SELECT doc_id + 3000000 AS doc_id, "
        "'novel page ' || CAST(doc_id + 3000000 AS VARCHAR) || "
        "' entirely fresh tokens qz17 unseen' AS text "
        "FROM documents WHERE doc_id % 3 = 2), "
        "osh AS (SELECT doc_id, md5(text) AS text_md5, "
        f"{_shingle_unnest} FROM (SELECT doc_id, text, "
        "list_filter(string_split(text, ' '), x -> x != '') AS toks "
        "FROM oldd)), "
        f"oidx AS (SELECT doc_id, text_md5, {minhash_mins} FROM osh "
        "GROUP BY doc_id, text_md5), "
        "nsh AS (SELECT doc_id, md5(text) AS text_md5, "
        f"{_shingle_unnest} FROM (SELECT doc_id, text, "
        "list_filter(string_split(text, ' '), x -> x != '') AS toks "
        "FROM newd)), "
        f"nidx AS (SELECT doc_id, text_md5, {minhash_mins} FROM nsh "
        "GROUP BY doc_id, text_md5), "
        f"ostack AS (SELECT *, {_band_unnest} FROM "
        f"(SELECT *, {band_keys} FROM oidx)), "
        f"nstack AS (SELECT *, {_band_unnest} FROM "
        f"(SELECT *, {band_keys} FROM nidx)), "
        "dropped AS (SELECT doc_id FROM nidx WHERE text_md5 IN "
        "(SELECT text_md5 FROM oidx) "
        "UNION SELECT n.doc_id FROM nstack n JOIN ostack o "
        f"USING (band_key) WHERE {_est_eq} >= 0.5) "
        "SELECT doc_id, md5(text) AS text_md5 FROM newd "
        "WHERE doc_id NOT IN (SELECT doc_id FROM dropped)")
    oracles["web_host_filter"] = (
        "WITH d AS (SELECT doc_id, 'https://' || "
        "CASE WHEN doc_id % 5 = 0 THEN 'ads.' ELSE '' END || source || "
        "'.example.com/p/' || doc_id AS url FROM documents), "
        "h AS (SELECT doc_id, lower(regexp_extract(url, "
        "'^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) "
        "AS host FROM d), "
        "s AS (SELECT doc_id, host, string_split(host, '.') AS labels "
        "FROM h) "
        "SELECT doc_id, host FROM s WHERE len(list_intersect("
        "list_transform(generate_series(1, len(labels)), "
        "i -> array_to_string(list_slice(labels, i, len(labels)), '.')), "
        "['src1.example.com', 'ads.src0.example.com'])) = 0")
    # per-host rollup over the same synthesized urls; quality/langid
    # reuse the oracled per-row formulas, ratios are single divisions
    # of integral counts (cross-engine exact — no float accumulation)
    oracles["web_host_rollup"] = (
        "WITH d AS (SELECT doc_id, text, 'https://' || "
        "CASE WHEN doc_id % 5 = 0 THEN 'ads.' ELSE '' END || source || "
        "'.example.com/p/' || doc_id AS url FROM documents), "
        "h2 AS (SELECT doc_id, text, lower(regexp_extract(url, "
        "'^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) "
        "AS host FROM d), "
        f"qual AS ({_quality_oracle_sql()}), "
        f"lid AS (SELECT doc_id, {langid_case} AS lang_pred FROM ("
        "SELECT doc_id, "
        + ",".join(f"{expr} AS {lang}" for lang, expr in lang_hits.items())
        + " FROM documents) h), "
        "feat AS (SELECT host, strlen(text) AS nb, "
        "len(list_filter(string_split(text, ' '), x -> x != '')) AS nt, "
        "md5(text) AS th, "
        "CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END AS qok, "
        "CASE WHEN l.lang_pred = 'en' THEN 1 ELSE 0 END AS lok "
        "FROM h2 JOIN qual q USING (doc_id) JOIN lid l USING (doc_id)) "
        "SELECT host, count(*) AS n_docs, "
        "CAST(sum(nb) AS BIGINT) AS total_bytes, "
        "CAST(sum(nt) AS BIGINT) AS total_tokens, "
        "round(avg(nt), 6) AS mean_tokens, "
        "count(DISTINCT th) AS n_distinct_texts, "
        "CAST(sum(qok) AS BIGINT) AS n_quality_pass, "
        "CAST(sum(lok) AS BIGINT) AS n_lang_match, "
        "round(1.0 - count(DISTINCT th) / CAST(count(*) AS DOUBLE), 6) "
        "AS dup_rate FROM feat GROUP BY host")
    # URL canonicalization: the identical rule chain (fragment strip,
    # authority case-fold, default-port drop, ordered tracking-param
    # filter) over the same synthesized messy URLs
    oracles["web_url_normalize"] = (
        "WITH d AS (SELECT doc_id, "
        "(CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'https://' END "
        "|| CASE WHEN doc_id % 4 = 0 THEN upper(source) ELSE source END "
        "|| '.Example.COM' "
        "|| CASE WHEN doc_id % 3 = 0 THEN ':80' "
        "WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END "
        "|| '/p/' || doc_id::VARCHAR "
        "|| CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || "
        "doc_id::VARCHAR ELSE '' END "
        "|| CASE WHEN doc_id % 5 = 0 THEN '&gclid=abc' ELSE '' END "
        "|| CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url "
        "FROM documents), "
        "s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') "
        "AS u1 FROM d), "
        "s2 AS (SELECT *, regexp_extract(u1, "
        "'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0) AS prefix FROM s1), "
        "s3 AS (SELECT *, substr(u1, len(prefix)+1) AS rest, "
        "lower(prefix) AS lp FROM s2), "
        "s4 AS (SELECT *, CASE WHEN lp LIKE 'http://%' AND lp LIKE "
        "'%:80' THEN substr(lp, 1, len(lp)-3) "
        "WHEN lp LIKE 'https://%' AND lp LIKE '%:443' "
        "THEN substr(lp, 1, len(lp)-4) ELSE lp END AS lp2 FROM s3), "
        "s5 AS (SELECT *, strpos(rest, '?') AS qp FROM s4), "
        "s6 AS (SELECT *, CASE WHEN qp > 0 THEN substr(rest, 1, qp-1) "
        "ELSE rest END AS pth, CASE WHEN qp > 0 THEN "
        "substr(rest, qp+1) ELSE '' END AS q FROM s5), "
        "s7 AS (SELECT *, array_to_string(list_filter("
        "string_split(q, '&'), x -> x != '' AND NOT regexp_matches(x, "
        "'^(utm_|gclid($|=)|fbclid($|=)|msclkid($|=))')), '&') AS fq "
        "FROM s6) "
        "SELECT doc_id, url, lp2 || pth || CASE WHEN fq <> '' THEN "
        "'?' || fq ELSE '' END AS canonical_url FROM s7")
    oracles.update(_kg_oracle_sqls())
    oracles.update(_bpe_oracle_sqls())
    return oracles


def _bpe_oracle_sqls() -> dict[str, str]:
    """Oracles for the BPE-denominated queries: the driver-side pure-
    Python tokenizer (same source module the executors import, same
    deterministically trained merge table) produces per-doc counts as
    a VALUES fixture; SQL then replays the subword expression /
    two-phase prefix-sum pack layout over those counts. What this
    checks: the Arrow-batched distributed tokenize equals the
    sequential reference run, and the pack math is count-agnostic.
    Bound to sf0.01 like the other data-derived oracles; {} if that
    parquet is missing, and raises on any other failure."""
    import duckdb

    from lexmapr_spark.ops import bpe

    path = f"{SF001}/documents.parquet"
    if not os.path.exists(path):
        return {}
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{path}')").fetchall()
    con.close()
    ranks = bpe.merge_ranks()
    memo: dict = {}
    counts = ",".join(
        f"({i},{bpe.bpe_token_count(t or '', ranks, memo)})"
        for i, t in rows)
    fixture = (f"(SELECT * FROM (VALUES {counts}) "
               "v(doc_id, bpe_tokens))")
    return {
        "text_token_count_bpe":
            f"SELECT d.doc_id, v.bpe_tokens AS n_tokens, "
            "len(list_filter(string_split_regex(regexp_replace(d.text, "
            "'([^\\sA-Za-z0-9])', ' \\1 ', 'g'), '\\s+'), x -> x != '')) "
            f"AS n_subword_tokens FROM documents d JOIN {fixture} v "
            "ON d.doc_id = v.doc_id",
        "pack_sequences_bpe":
            f"WITH t AS (SELECT v.doc_id, v.bpe_tokens AS n_tokens, "
            "('0x' || substr(md5(CAST(v.doc_id AS VARCHAR)), 1, 15))::BIGINT "
            f"AS hkey FROM {fixture} v), "
            "f AS (SELECT *, CAST(hkey % 32 AS INT) AS bucket FROM t "
            "WHERE n_tokens > 0), "
            "c AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER ("
            "ORDER BY bucket, hkey, doc_id ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND 1 PRECEDING), 0) AS gcum FROM f) "
            "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, "
            "CAST(floor(gcum / 512.0) AS BIGINT) AS pack_id, "
            "CAST(gcum % 512 AS BIGINT) AS pack_offset FROM c",
    }


def _kg_oracle_sqls() -> dict[str, str]:
    """Fixture oracles for the 5 matcher-driven kg_* queries (r6).

    The greedy cascade is not SQL-expressible, so these SELECT from
    reference-truth parquet produced by ``tools/
    build_kg_oracle_fixture.py``: per-doc rows from the reference's
    own ``pipeline.run`` executed in-sandbox, confidence from the
    reference's dormant scoring functions, and the stored union-find
    canonical map (the fixture script's; the engine labels the alias
    graph on the driver, not with a Spark CC). Bound to sf0.01 like
    every other oracle. Missing fixtures degrade to rows-only checks."""
    fix = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "tests", "golden", "kg_oracle")
    ref = f"read_parquet('{fix}/ref_rows.parquet')"
    conf = f"read_parquet('{fix}/confidence.parquet')"
    canon = f"read_parquet('{fix}/canon_map.parquet')"
    if not os.path.exists(os.path.join(fix, "ref_rows.parquet")):
        return {}
    # display components are "label:id"; resource ids never contain
    # ':' (checked over CombinedResourceTerms.csv), so the last-colon
    # split recovers the unmangled (label, id) pair exactly
    label = "regexp_extract(comp, '^(.*):([^:]*)$', 1)"
    term_id = "regexp_extract(comp, '^(.*):([^:]*)$', 2)"
    triples_cte = (
        f"WITH m AS (SELECT url, macro_status, unnest(components) AS comp "
        f"FROM {ref} WHERE macro_status <> 'No Match'), "
        f"t AS (SELECT DISTINCT url || '#' || {label} AS subj, "
        "CASE macro_status WHEN 'Full Term Match' THEN 'fullTermMatch' "
        "WHEN 'Component Match' THEN 'componentMatch' END AS pred, "
        f"'http://purl.obolibrary.org/obo/' || {term_id} AS obj FROM m)")
    return {
        "kg_triples": triples_cte + " SELECT subj, pred, obj FROM t",
        "kg_match_histogram":
            f"SELECT macro_status, count(*) AS n FROM {ref} "
            "GROUP BY macro_status",
        "kg_classification_histogram":
            # explode_outer semantics: empty label lists contribute one
            # NULL-label row
            "WITH ex AS (SELECT CASE WHEN len(labels) = 0 "
            "THEN [CAST(NULL AS VARCHAR)] ELSE labels END AS ls "
            f"FROM {ref}), "
            "u AS (SELECT unnest(ls) AS label FROM ex) "
            "SELECT label, count(*) AS n FROM u GROUP BY label",
        "kg_canonical_triples":
            triples_cte +
            f" SELECT DISTINCT t.subj, t.pred, "
            "coalesce(c.canon_obj, t.obj) AS obj "
            f"FROM t LEFT JOIN {canon} c ON t.obj = c.obj",
        "kg_confidence_histogram":
            "SELECT macro_status, confidence_level, count(*) AS n, "
            "round(avg(confidence_score), 6) AS avg_score "
            f"FROM {conf} GROUP BY macro_status, confidence_level",
    }


def _repetition_oracle_sql() -> str:
    """Independent unnest+window recomputation of repetition_stats
    over the same line-synthesized text (replace scans left-to-right
    non-overlapping in Spark, DuckDB, and Python alike)."""
    return """
    WITH d AS (
      SELECT doc_id, replace(text, ' table ', chr(10)) AS text
      FROM documents),
    feat AS (
      SELECT doc_id, length(text) AS n_chars FROM d),
    lc AS (
      SELECT doc_id, line, count(*) AS c FROM (
        SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        FROM d) GROUP BY doc_id, line),
    line_stats AS (
      SELECT doc_id, sum(c) AS n_lines, sum(c - 1) AS dup_lines,
             sum(length(line) * (c - 1)) AS dup_line_chars
      FROM lc GROUP BY doc_id),
    wc AS (
      SELECT doc_id, tok, count(*) AS c FROM (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS tok
        FROM d) GROUP BY doc_id, tok),
    word_stats AS (
      SELECT doc_id, sum(c) AS n_toks, sum(c) - count(*) AS dup_word,
             max(c) AS max_c
      FROM wc GROUP BY doc_id),
    grams AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, len(toks) - 1),
        i -> concat_ws(' ', toks[i], toks[i+1]))) AS g
      FROM (SELECT doc_id, list_filter(string_split(text, ' '),
                                       x -> x <> '') AS toks FROM d)),
    gc AS (SELECT doc_id, g, count(*) AS c FROM grams
           GROUP BY doc_id, g),
    topg AS (
      SELECT doc_id, g, c FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY c DESC, g ASC) AS rn FROM gc) WHERE rn = 1)
    SELECT d.doc_id,
      round(CAST(ls.dup_lines AS DOUBLE) / ls.n_lines, 6)
        AS dup_line_frac,
      CASE WHEN f.n_chars > 0 THEN
        round(CAST(ls.dup_line_chars AS DOUBLE) / f.n_chars, 6)
        ELSE 0.0 END AS dup_line_char_frac,
      CASE WHEN coalesce(ws.n_toks, 0) > 0 THEN
        round(CAST(ws.dup_word AS DOUBLE) / ws.n_toks, 6)
        ELSE 0.0 END AS dup_word_frac,
      CASE WHEN coalesce(ws.n_toks, 0) > 0 THEN
        round(CAST(ws.max_c AS DOUBLE) / ws.n_toks, 6)
        ELSE 0.0 END AS max_word_frac,
      CASE WHEN tg.g IS NOT NULL AND f.n_chars > 0 THEN
        round(CAST(length(tg.g) * tg.c AS DOUBLE) / f.n_chars, 6)
        ELSE 0.0 END AS top_2gram_char_frac
    FROM d
    JOIN feat f USING (doc_id)
    JOIN line_stats ls ON d.doc_id = ls.doc_id
    LEFT JOIN word_stats ws ON d.doc_id = ws.doc_id
    LEFT JOIN topg tg ON d.doc_id = tg.doc_id
    """


def _perplexity_oracle_sql() -> str:
    """Full SQL replication of unigram_lm + perplexity: corpus counts,
    6-dp-rounded logprobs (order-independent DECIMAL sums), one double
    division + exp at the end."""
    return """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS token
      FROM documents),
    counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
    total AS (SELECT sum(c) AS t FROM counts),
    lm AS (
      SELECT token,
             CAST(round(ln(CAST(c AS DOUBLE) / t), 6) AS DECIMAL(28,6))
               AS lp
      FROM counts, total),
    per AS (
      SELECT doc_id, sum(lp) AS s, count(*) AS n
      FROM toks JOIN lm USING (token) GROUP BY doc_id)
    SELECT doc_id, n AS n_tokens,
      round(-(CAST(s AS DOUBLE) / n), 6) AS cross_entropy,
      round(exp(round(-(CAST(s AS DOUBLE) / n), 6)), 6) AS perplexity
    FROM per
    """


def _conf_oracle_sql() -> str:
    """DuckDB replication of the C7 confidence scorer over the same
    synthetic inputs as ``conf_scoring``. Covered set here is always
    exactly (tok1, tok2) and head nouns (tok2, tok3), so the
    str(set)-repr membership quirk (substring of ``'elem'`` with quote
    boundaries; ``'set()'`` when empty — see
    ``lexmapr_spark/confidence.py``, deviation 2) unrolls to scalar
    strpos tests without nested lambdas. Penalty weights are computed
    independently from the CASE branches (5/0 + 4/3 per
    confidence_weight_penalty.csv), not via the Spark fold."""
    q = "chr(39) || {0} || chr(39)"
    c1q, c2q = q.format("c1"), q.format("c2")
    h1q, h2q = q.format("h1"), q.format("h2")
    return f"""
    WITH base AS (
      SELECT doc_id, n_chars,
             list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS toks
      FROM documents),
    f AS (
      SELECT doc_id, list_slice(toks, 1, 6) AS stoks,
             toks[1] AS c1, toks[2] AS c2, toks[2] AS h1, toks[3] AS h2,
             CASE WHEN doc_id % 3 = 0 THEN 'Full Term Match'
                  WHEN doc_id % 3 = 1 THEN 'Component Match'
                  ELSE 'No Match' END AS status,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 5 ELSE 0 END
                  + CASE WHEN n_chars % 2 = 0 THEN 4 ELSE 3 END
                  AS DOUBLE) AS penalty
      FROM base WHERE len(toks) >= 4),
    cov AS (
      SELECT *,
        strpos({c1q}, h1) > 0 OR strpos({c2q}, h1) > 0 AS h1_cov,
        strpos({c1q}, h2) > 0 OR strpos({c2q}, h2) > 0 AS h2_cov
      FROM f),
    nc AS (
      SELECT *,
        CASE WHEN h1 = h2 THEN CASE WHEN h1_cov THEN 0 ELSE 1 END
             ELSE (CASE WHEN h1_cov THEN 0 ELSE 1 END
                   + CASE WHEN h2_cov THEN 0 ELSE 1 END) END AS n_nc_hn
      FROM cov),
    cnt AS (
      SELECT *,
        len(list_distinct(list_filter(stoks, t ->
          NOT (strpos({c1q}, t) > 0 OR strpos({c2q}, t) > 0)
          AND NOT (CASE WHEN n_nc_hn = 0 THEN strpos('set()', t) > 0
                   ELSE ((NOT h1_cov) AND strpos({h1q}, t) > 0)
                     OR ((NOT h2_cov) AND strpos({h2q}, t) > 0) END)
        ))) AS n_nc_toks
      FROM nc),
    scored AS (
      SELECT doc_id, status,
        CASE WHEN status = 'Full Term Match' THEN 100.0 - penalty
             WHEN status = 'Component Match'
               THEN 90.0 - penalty - 6.0 * n_nc_toks - 10.0 * n_nc_hn
             ELSE 0.0 END AS confidence_score
      FROM cnt)
    SELECT doc_id, confidence_score,
      CASE WHEN status = 'No Match' THEN 'Low (0%)'
           ELSE (CASE WHEN confidence_score > 89 THEN 'Highest'
                      WHEN confidence_score > 79 THEN 'High'
                      WHEN confidence_score > 69 THEN 'Moderately High'
                      WHEN confidence_score > 59 THEN 'Medium'
                      ELSE 'Low' END)
                || ' (' || printf('%.1f', confidence_score) || '%)' END
        AS confidence
    FROM scored
    """


def _quality_oracle_sql() -> str:
    stop_list = ",".join(f"'{w}'" for w in _STOPLIST)
    n_stop = len(_STOPLIST)
    return f"""
    WITH feats AS (
      SELECT doc_id,
        CAST(length(text) AS DOUBLE) AS n_chars,
        CASE WHEN length(text) > 0 THEN
          CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
            / length(text) ELSE 0.0 END AS alpha_ratio,
        CAST(len(list_filter(string_split(text,' '), x -> x != ''))
             AS DOUBLE) AS n_tokens,
        CAST(len(list_intersect(list_distinct(list_filter(
             string_split(text,' '), x -> x != '')), [{stop_list}]))
             AS DOUBLE) AS stop_hits,
        CAST(length(list_aggregate(list_filter(string_split(text,' '),
             x -> x != ''), 'string_agg', '')) AS DOUBLE) AS tok_chars
      FROM documents)
    SELECT doc_id,
      round(alpha_ratio, 6) AS alpha_ratio,
      round(CASE WHEN n_tokens > 0 THEN stop_hits / {n_stop}.0
            ELSE 0.0 END, 6) AS stop_ratio,
      round(CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens
            ELSE 0.0 END, 6) AS mean_tok_len,
      round(least(n_tokens / 100.0, 1.0) * 0.25 + alpha_ratio * 0.35
        + (CASE WHEN n_tokens > 0 THEN stop_hits / {n_stop}.0
           ELSE 0.0 END) * 0.25
        + least((CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens
                 ELSE 0.0 END) / 8.0, 1.0) * 0.15, 6) AS quality
    FROM feats
    """
