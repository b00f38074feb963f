"""BM25 ranked retrieval (ops/search.py).

Correctness is pinned against a pure-Python replay of the published
Okapi BM25 formula (same 6-dp per-term rounding contract), the batch
path is pinned row-for-row equal to the single-query path, and the
plan shapes that make the op scale are asserted physically: the
single-query path is a pure projection + TakeOrderedAndProject with
no Window and no corpus-sized exchange; the batch path broadcast-joins
the query table so the corpus never shuffles for the join.
"""
import math

import pytest
from pyspark.sql import functions as F

from lexmapr_spark import engine
from lexmapr_spark.ops.search import (bm25_batch_topk,
                                      bm25_batch_topk_indexed,
                                      bm25_topk, bm25_topk_indexed,
                                      build_bm25_index, merge_bm25_indexes)


@pytest.fixture(scope="module")
def spark():
    s = engine.build_spark(cpus=4, app="search_tests", shuffle_partitions=8)
    yield s
    s.stop()


ROWS = [
    (0, "dup merge query scan"),
    (1, "merge merge merge scan table"),
    (2, "dup dup dup"),
    (3, "scan table window sort"),
    (4, None),
    (5, ""),
    (6, "query query merge dup scan scan scan scan scan scan scan scan"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id LONG, text STRING")


def _py_bm25(rows, terms, k1=1.2, b=0.75):
    """Pure-Python Okapi BM25 with the engine's 6-dp contribution
    rounding; returns [(score, doc_id)] best-first."""
    toks = {i: (t.split() if t else []) for i, t in rows}
    n = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = []
    for d, tk in toks.items():
        s = 0.0
        hit = False
        for t in sorted(set(terms)):
            tf = tk.count(t)
            if tf == 0:
                continue
            hit = True
            df = sum(1 for v in toks.values() if t in v)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            sat = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(tk) / avgdl))
            s += round(idf * sat, 6)
        if hit:
            out.append((round(s, 6), d))
    return sorted(out, key=lambda x: (-x[0], x[1]))


def test_bm25_matches_python_reference(docs):
    got = [(r.score, r.doc_id)
           for r in bm25_topk(docs, ["dup", "merge"], k=10).collect()]
    assert got == _py_bm25(ROWS, ["dup", "merge"])
    # rare term ('dup', df=3) outscores the same tf of a common term:
    # doc 2 (3x dup) must beat doc 1 (3x merge, longer doc)
    by_doc = dict((d, s) for s, d in got)
    assert by_doc[2] > by_doc[1]


def test_bm25_k_truncates_and_duplicates_collapse(docs):
    top1 = bm25_topk(docs, ["dup", "merge", "dup"], k=1).collect()
    full = _py_bm25(ROWS, ["dup", "merge"])
    assert [(r.score, r.doc_id) for r in top1] == full[:1]


def test_bm25_null_and_empty_text_never_match(docs):
    ids = {r.doc_id for r in bm25_topk(docs, ["dup", "merge", "scan",
                                              "query", "table", "window",
                                              "sort"], k=100).collect()}
    assert 4 not in ids and 5 not in ids


def test_bm25_batch_equals_single(docs):
    queries = docs.sparkSession.createDataFrame(
        [("q0", ["dup", "merge"]), ("q1", ["scan"]),
         ("q2", ["nonexistent_term"])],
        "query_id STRING, terms ARRAY<STRING>")
    batch = bm25_batch_topk(docs, queries, k=5).collect()
    for qid, terms in [("q0", ["dup", "merge"]), ("q1", ["scan"])]:
        single = [(r.score, r.doc_id)
                  for r in bm25_topk(docs, terms, k=5).collect()]
        got = [(r.score, r.doc_id) for r in batch if r.query_id == qid]
        assert got == single, qid
    assert not [r for r in batch if r.query_id == "q2"]


def test_bm25_validation():
    with pytest.raises(ValueError, match="k must be"):
        bm25_topk(None, ["a"], k=0)
    with pytest.raises(ValueError, match="whitespace-free"):
        bm25_topk(None, ["two words"])
    with pytest.raises(ValueError, match="whitespace-free"):
        bm25_topk(None, [])
    with pytest.raises(ValueError, match="k1 >= 0"):
        bm25_topk(None, ["a"], k1=-1)
    with pytest.raises(ValueError, match="k must be"):
        bm25_batch_topk(None, None, k=0)


def test_bm25_randomized_differential(spark, tmp_path):
    """Randomized differential (the repo's standard pattern for
    dedup/exact-substring): seeded random corpora and query sets —
    the direct and batch paths match the pure-Python Okapi replay on
    every trial (including empty/NULL docs and absent terms), and the
    stored-index single + batch paths match it on the first trial."""
    import random

    rng = random.Random(20260818)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(4):
        rows = []
        for i in range(rng.randint(5, 40)):
            n = rng.randint(0, 25)
            text = " ".join(rng.choice(vocab) for _ in range(n))
            rows.append((i, text if n else rng.choice([None, ""])))
        docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        terms = rng.sample(vocab, rng.randint(1, 5)) + ["neverseen"]
        k = rng.randint(1, 15)
        want = _py_bm25(rows, terms)[:k]
        got = [(r.score, r.doc_id)
               for r in bm25_topk(docs, terms, k=k).collect()]
        assert got == want, (trial, terms, k)
        queries = spark.createDataFrame([("q", terms)],
                                        "query_id STRING, "
                                        "terms ARRAY<STRING>")
        got_b = [(r.score, r.doc_id)
                 for r in bm25_batch_topk(docs, queries, k=k).collect()]
        assert got_b == want, (trial, "batch")
        if trial == 0:
            store = str(tmp_path / "rnd_store")
            build_bm25_index(docs, store, n_buckets=8)
            got_i = [(r.score, r.doc_id)
                     for r in bm25_topk_indexed(
                         spark, store, terms, k=k, n_buckets=8).collect()]
            assert got_i == want, "indexed"
            got_bi = [(r.score, r.doc_id)
                      for r in bm25_batch_topk_indexed(
                          spark, store, queries, k=k,
                          n_buckets=8).collect()]
            assert got_bi == want, "batch-indexed"


def test_bm25_single_plan_is_projection_plus_topk(docs):
    plan = bm25_topk(docs, ["dup", "merge"], k=10)._jdf \
        .queryExecution().executedPlan().toString()
    # the k-row head never globally sorts the corpus
    assert "TakeOrderedAndProject" in plan
    # no per-row window machinery anywhere in the single-query path
    assert "Window" not in plan
    # the only exchange is the 1-row stats aggregate (SinglePartition);
    # the corpus side must not hash-shuffle
    assert "hashpartitioning" not in plan


def test_bm25_indexed_equals_direct_and_prunes_partitions(docs, tmp_path):
    store = str(tmp_path / "bm25")
    build_bm25_index(docs, store, n_buckets=8)
    direct = [(r.score, r.doc_id)
              for r in bm25_topk(docs, ["dup", "merge"], k=10).collect()]
    q = bm25_topk_indexed(docs.sparkSession, store, ["dup", "merge"],
                          k=10, n_buckets=8)
    got = [(r.score, r.doc_id) for r in q.collect()]
    assert got == direct
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the postings scan must be partition-pruned to the query terms'
    # buckets, not a full-index filter
    pf = [ln for ln in plan.split("\n")
          if "PartitionFilters" in ln and "term_bucket" in ln]
    assert pf and all("IN" in ln for ln in pf), plan
    # single-term query works through the indexed path too
    one = bm25_topk_indexed(docs.sparkSession, store, ["scan"],
                            k=3, n_buckets=8)
    single = [(r.score, r.doc_id)
              for r in bm25_topk(docs, ["scan"], k=3).collect()]
    assert [(r.score, r.doc_id) for r in one.collect()] == single


def test_bm25_index_build_validation(docs, tmp_path):
    with pytest.raises(ValueError, match="n_buckets"):
        build_bm25_index(docs, str(tmp_path / "x"), n_buckets=0)
    with pytest.raises(ValueError, match="at least one"):
        merge_bm25_indexes(docs.sparkSession, [], str(tmp_path / "y"))
    # crash-truncated batch index (no _SUCCESS) is refused, not
    # silently merged with undercounted stats
    import os
    partial = tmp_path / "partial"
    os.makedirs(partial / "postings")
    os.makedirs(partial / "stats")
    with pytest.raises(ValueError, match="_SUCCESS"):
        merge_bm25_indexes(docs.sparkSession, [str(partial)],
                           str(tmp_path / "z"))


def test_bm25_merged_index_equals_union_build(docs, tmp_path):
    """Incremental lifecycle: per-batch indexes merged (including a
    bucket-layout change) serve scores identical to one index built
    over the union corpus."""
    spark = docs.sparkSession
    batch_a = docs.where(F.col("doc_id") < 3)
    batch_b = docs.where(F.col("doc_id") >= 3)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    build_bm25_index(batch_a, pa, n_buckets=4)
    build_bm25_index(batch_b, pb, n_buckets=8)
    merged = str(tmp_path / "m")
    merge_bm25_indexes(spark, [pa, pb], merged, n_buckets=16)
    union = str(tmp_path / "u")
    build_bm25_index(docs, union, n_buckets=16)
    for terms in (["dup", "merge"], ["scan"]):
        got = [(r.score, r.doc_id)
               for r in bm25_topk_indexed(spark, merged, terms, k=10,
                                          n_buckets=16).collect()]
        want = [(r.score, r.doc_id)
                for r in bm25_topk_indexed(spark, union, terms, k=10,
                                           n_buckets=16).collect()]
        assert got == want, terms
    # the stored artifacts themselves agree: the 1-row corpus stats
    # and the per-term posting counts (document frequencies)
    def stored(path):
        srow = spark.read.parquet(f"{path}/stats").first()
        df = {r.term: r.df for r in
              spark.read.parquet(f"{path}/postings")
              .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
              .collect()}
        return (srow.n_docs, srow.total_toks), df

    assert stored(merged) == stored(union)
    assert stored(union)[0] == (len(ROWS),
                                sum(len(t.split()) for _, t in ROWS if t))


def test_bm25_batch_indexed_equals_direct_batch(docs, tmp_path):
    """The (batch x index) corner of the serving matrix: scoring a
    query batch from the stored postings equals the direct batch scan
    row-for-row, the read is partition-pruned, and nothing explodes
    at serving time."""
    spark = docs.sparkSession
    store = str(tmp_path / "store")
    build_bm25_index(docs, store, n_buckets=8)
    queries = spark.createDataFrame(
        [("q0", ["dup", "merge"]), ("q1", ["scan"]),
         ("q2", ["nonexistent_term"])],
        "query_id STRING, terms ARRAY<STRING>")
    out = bm25_batch_topk_indexed(spark, store, queries, k=5, n_buckets=8)
    got = [(r.query_id, r.doc_id, r.score) for r in out.collect()]
    want = [(r.query_id, r.doc_id, r.score)
            for r in bm25_batch_topk(docs, queries, k=5).collect()]
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "term_bucket" in plan
    # no corpus-side explode at serving time — the only Generate is
    # the tiny query-table terms explode (count the FINAL plan only;
    # the AQE string repeats nodes in its '== Initial Plan ==' echo)
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("Generate") <= 1
    with pytest.raises(ValueError, match="whitespace-free"):
        bm25_batch_topk_indexed(
            spark, store,
            spark.createDataFrame([("q0", ["two words"])],
                                  "query_id STRING, terms ARRAY<STRING>"),
            k=5, n_buckets=8)


def test_bm25_batch_validates_terms_like_single(docs):
    """A phrase term ('machine learning') can never match
    whitespace-free tokens; batch must raise like the single path
    instead of silently returning nothing for that query."""
    queries = docs.sparkSession.createDataFrame(
        [("q0", ["machine learning"])], "query_id STRING, terms ARRAY<STRING>")
    with pytest.raises(ValueError, match="whitespace-free"):
        bm25_batch_topk(docs, queries, k=5)
    empty = docs.sparkSession.createDataFrame(
        [("q0", [""])], "query_id STRING, terms ARRAY<STRING>")
    with pytest.raises(ValueError, match="whitespace-free"):
        bm25_batch_topk(docs, empty, k=5)


def test_bm25_batch_rejects_empty_or_null_terms(docs, tmp_path):
    """ADVICE r6: a query with an empty or NULL terms array was
    silently dropped by the explode — both batch paths must raise
    like bm25_topk does on an empty term list."""
    spark = docs.sparkSession
    for terms in ([], None):
        qs = spark.createDataFrame(
            [("q0", ["apple"]), ("q1", terms)],
            "query_id STRING, terms ARRAY<STRING>")
        with pytest.raises(ValueError, match="non-empty terms"):
            bm25_batch_topk(docs, qs, k=5)
    # indexed batch path shares the validation
    path = str(tmp_path / "idx")
    build_bm25_index(docs, path, n_buckets=8)
    qs = spark.createDataFrame(
        [("q0", ["apple"]), ("q1", [])],
        "query_id STRING, terms ARRAY<STRING>")
    with pytest.raises(ValueError, match="non-empty terms"):
        bm25_batch_topk_indexed(spark, path, qs, k=5, n_buckets=8)


def test_evict_stale_stores_is_tag_exact(tmp_path):
    """Eviction must only remove same-basename stores whose suffix is
    exactly a 12-hex fingerprint tag — NOT stores of a dataset whose
    basename extends this one (sf0.001 vs sf0.001_alt)."""
    import os

    import __spark_entry__ as entry

    base = tmp_path / "lexmapr_bm25_store_sf0.001"
    live = f"{base}_{'a' * 12}"
    stale = f"{base}_{'b' * 12}"
    sibling = f"{base}_alt_{'c' * 12}"   # different DATASET basename
    notatag = f"{base}_extra"            # not a fingerprint suffix
    for d in (live, stale, sibling, notatag):
        os.makedirs(d)
    entry._evict_stale_stores(live)
    assert os.path.exists(live)
    assert not os.path.exists(stale)          # superseded: evicted
    assert os.path.exists(sibling)            # other dataset: kept
    assert os.path.exists(notatag)            # not a store tag: kept


def test_bm25_batch_plan_broadcasts_queries(docs):
    queries = docs.sparkSession.createDataFrame(
        [("q0", ["dup", "merge"])], "query_id STRING, terms ARRAY<STRING>")
    out = bm25_batch_topk(docs, queries, k=5)
    out.collect()  # ReusedExchange only shows in the FINAL AQE plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    # query table and term-df side ride broadcast joins — the corpus
    # never shuffles for a join (its only exchanges are the two
    # map-side-combined aggregations)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the df branch reuses the tf aggregate's exchange, not a second
    # corpus explode (ReuseExchange dedupes the identical subtree)
    assert "ReusedExchange" in plan
