"""BM25 ranked retrieval over a document corpus.

No reference counterpart (LexMapr does ontology term matching, not
free-text retrieval); this implements the published Okapi BM25
ranking function (Robertson & Zaragoza 2009, "The Probabilistic
Relevance Framework: BM25 and Beyond") with the non-negative
``ln(1 + (N - df + 0.5) / (df + 0.5))`` idf variant popularized by
Lucene, so scores never go negative for very common terms.

Two shapes, matching how the ANN ops split serving from batch work:

* :func:`bm25_topk` — ONE query (a small literal term list). The
  entire score is a pure whole-stage-codegen projection: per-term
  ``tf`` via ``size(filter(tokens, x == term))``, document length via
  ``size(tokens)``, and the corpus statistics (N, total tokens, per-
  term document frequencies) as a single 1-row aggregate broadcast
  back with a ``crossJoin``. ZERO wide shuffle — the only exchanges
  are the 1-row stats aggregate and the ``TakeOrderedAndProject``
  k-row head (each task keeps its own top k; the driver merges P*k
  rows, never sorts the corpus).

* :func:`bm25_batch_topk` — a DataFrame of queries scored in ONE
  corpus scan: explode the corpus into (doc, token) pairs, broadcast-
  hash-join against the (query, term) table so the big side never
  shuffles on the join, then two map-side-combined aggregations and a
  per-query WindowGroupLimit top-k (rank pushdown keeps only k rows
  per task before the final per-query exchange).

Determinism contract (cross-engine hashability): each per-term
contribution is rounded to 6 dp and cast to DECIMAL(28,6) BEFORE the
per-document sum, so the total is exact and independent of summation
order; the final score is the decimal total rounded to 6 dp as a
double. Ties in the top-k break on ``doc_id`` ascending. The batch
and single paths use the identical contribution expression, so
``bm25_batch_topk`` with one query equals ``bm25_topk`` row-for-row.

Tokenization is the engine-wide whitespace convention
(:func:`lexmapr_spark.ops.dedup.tokens_col`); NULL text scores as an
empty document.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lexmapr_spark.ops.dedup import tokens_col
from lexmapr_spark.ops.util import fan_out

_DEC = "decimal(28,6)"


def _validate(query_terms: list[str], k: int, k1: float, b: float) -> list[str]:
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k1 < 0 or not (0.0 <= b <= 1.0):
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got k1={k1} b={b}")
    terms = sorted(set(query_terms))
    if not terms or any(t == "" or " " in t for t in terms):
        raise ValueError(
            "query_terms must be non-empty whitespace-free tokens; "
            f"got {query_terms!r}")
    return terms


def _eq_term(term: str):
    return lambda x: x == F.lit(term)


def _batch_terms_buckets(qterms: DataFrame,
                         n_buckets: int) -> tuple[list[str], list[int]]:
    """Distinct terms of a query batch plus their index buckets, in
    ONE bounded driver job (|distinct terms| rows — the batch is
    broadcast-small by contract), with the same term rules as the
    single-query path so a phrase like 'machine learning' raises here
    instead of silently matching nothing. Shared by the batch paths
    so the rules cannot drift between them."""
    rows = (qterms.select("term").distinct()
            .select("term", F.pmod(F.xxhash64("term"),
                                   F.lit(n_buckets)).alias("b"))
            .collect())
    # the batch paths explode with explode_outer, so a query whose
    # terms array is NULL or empty surfaces here as a NULL term —
    # raise like bm25_topk does on an empty term list instead of
    # silently returning no results for that query
    if any(r.term is None for r in rows):
        raise ValueError(
            "every query must have a non-empty terms array; "
            "got a query with NULL or empty terms")
    bad = [r.term for r in rows if r.term == "" or " " in r.term]
    if bad:
        raise ValueError(
            "query terms must be non-empty whitespace-free tokens; "
            f"got {bad!r}")
    return sorted(r.term for r in rows), sorted({r.b for r in rows})


def _idf(n_docs: Column, df: Column) -> Column:
    """Lucene-style non-negative BM25 idf."""
    return F.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _saturation(tf: Column, dl: Column, avgdl: Column,
                k1: float, b: float) -> Column:
    """The tf saturation factor tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))."""
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-``k`` documents for one query, BM25-ranked.

    Returns ``(id_col, score)``, highest score first, ties broken by
    ``id_col``; only documents containing at least one query term are
    candidates. Duplicate query terms are collapsed (each distinct
    term contributes once, the standard bag-of-words query form).

    Scale shape: the corpus is scanned twice — once for the 1-row
    stats aggregate (N, total token count, per-term df), once for
    scoring — and both scans prune to (id, text) at the parquet
    reader. Nothing corpus-sized ever shuffles: stats come back as a
    broadcast 1-row crossJoin, per-document tf/dl are array
    expressions inside whole-stage codegen, and the k-row head is
    TakeOrderedAndProject. At 100 TB this is the right serving shape
    for ad-hoc queries; for many queries at once amortize the corpus
    scan with :func:`bm25_batch_topk`.
    """
    terms = _validate(query_terms, k, k1, b)
    toks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))

    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("total_toks"),
        *[F.sum(F.array_contains(toks, t).cast("long")).alias(f"df_{i}")
          for i, t in enumerate(terms)])

    scored = (fan_out(docs)
              .select(F.col(id_col), F.size(toks).alias("dl"),
                      # one-arg closure per term: a two-arg lambda
                      # would make F.filter bind (element, index)
                      *[F.size(F.filter(toks, _eq_term(t)))
                        .alias(f"tf_{i}") for i, t in enumerate(terms)])
              .where((F.col("tf_0") if len(terms) == 1 else
                      F.greatest(*[F.col(f"tf_{i}")
                                   for i in range(len(terms))])) > 0)
              .crossJoin(F.broadcast(stats)))

    avgdl = F.col("total_toks").cast("double") / F.col("n_docs")
    contribs = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        raw = (_idf(F.col("n_docs").cast("double"),
                    F.col(f"df_{i}").cast("double"))
               * _saturation(tf, F.col("dl").cast("double"), avgdl, k1, b))
        contribs.append(
            F.when(F.col(f"tf_{i}") > 0, F.round(raw, 6).cast(_DEC))
             .otherwise(F.lit(0).cast(_DEC)))
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    return (scored
            .select(id_col,
                    F.round(total.cast("double"), 6).alias("score"))
            .orderBy(F.desc("score"), F.asc(id_col))
            .limit(k))


def build_bm25_index(docs: DataFrame, path: str, n_buckets: int = 64,
                     id_col: str = "doc_id", text_col: str = "text",
                     mode: str = "overwrite") -> None:
    """Materialize the inverted index for amortized BM25 serving —
    the retrieval twin of the stored-IVF ANN path.

    Writes two artifacts under ``path``:

    * ``postings/`` — one row per (term, doc) pair: ``(term,
      term_bucket, id, tf, dl)``, PARTITIONED BY ``term_bucket =
      pmod(xxhash64(term), n_buckets)``. A query reads only the
      buckets its terms hash to (PartitionFilters, not a post-scan
      filter) — at 100 TB the corpus is never rescanned per query and
      the scan cost is ~n_terms/n_buckets of the index. Document
      length rides denormalized on every posting so scoring needs no
      doc-length join.
    * ``stats/`` — the 1-row corpus statistics (n_docs,
      total_toks). Per-term df is NOT stored: it is one tiny count
      over the already-pruned postings at query time, so the index
      needs no second synchronized artifact to stay consistent.

    Build shape: one corpus scan, explode to tokens, one map-side-
    combined groupBy(term, doc) — the same cost class as minhash
    signature builds.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    toks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))
    postings = (fan_out(docs)
                .select(F.col(id_col), F.size(toks).alias("dl"),
                        F.explode(toks).alias("term"))
                .groupBy("term", id_col, "dl")
                .agg(F.count(F.lit(1)).alias("tf"))
                .withColumn("term_bucket",
                            F.pmod(F.xxhash64("term"), F.lit(n_buckets))))
    postings.write.mode(mode).partitionBy("term_bucket") \
        .parquet(f"{path}/postings")
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(F.size(toks)).alias("total_toks"))
    stats.write.mode(mode).parquet(f"{path}/stats")


def merge_bm25_indexes(spark, paths: list[str], out_path: str,
                       n_buckets: int = 64, mode: str = "overwrite") -> None:
    """Combine per-batch BM25 indexes into one servable index — the
    incremental-crawl lifecycle (the retrieval twin of
    :func:`lexmapr_spark.ops.dedup.merge_minhash_indexes`): index each
    crawl batch as it lands, merge periodically, never re-tokenize a
    prior batch.

    Postings are additive rows and corpus stats are additive sums, so
    for DISJOINT document sets the merged index serves scores
    IDENTICAL to an index built over the union corpus (pinned by
    test). Documents present in several batches (a re-crawled url)
    would double-count df and dl — dedup upstream
    (:func:`lexmapr_spark.ops.dedup.dedup_against_index`) before
    indexing, which a crawl pipeline does anyway.

    One shuffle total: the unioned postings repartition into the
    ``n_buckets`` partition layout; stats are a tiny unionByName sum.
    """
    if not paths:
        raise ValueError("merge_bm25_indexes: need at least one path")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    # refuse crash-truncated inputs: a batch build that died mid-write
    # leaves partial part-files Spark will happily read, silently
    # undercounting df/tf/n_docs in the merge — the same _SUCCESS
    # discipline every serving gate applies (Hadoop FS so HDFS/S3
    # paths gate the same as local ones)
    from lexmapr_spark.engine import _path_exists
    for p in paths:
        for artifact in ("postings", "stats"):
            if not _path_exists(spark, f"{p}/{artifact}/_SUCCESS"):
                raise ValueError(
                    f"merge_bm25_indexes: {p}/{artifact} has no _SUCCESS "
                    "marker — the batch index is incomplete (crashed "
                    "build?); rebuild it before merging")
    postings = None
    for p in paths:
        part = spark.read.parquet(f"{p}/postings")
        postings = part if postings is None else postings.unionByName(part)
    # recompute the bucket from the term so a merge can CHANGE the
    # bucket count (e.g. widen the layout as the corpus grows)
    postings = postings.withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    postings.write.mode(mode).partitionBy("term_bucket") \
        .parquet(f"{out_path}/postings")
    stats = None
    for p in paths:
        s = spark.read.parquet(f"{p}/stats")
        stats = s if stats is None else stats.unionByName(s)
    (stats.agg(F.sum("n_docs").alias("n_docs"),
               F.sum("total_toks").alias("total_toks"))
     .write.mode(mode).parquet(f"{out_path}/stats"))


def bm25_topk_indexed(spark, path: str, query_terms: list[str],
                      k: int = 10, k1: float = 1.2, b: float = 0.75,
                      n_buckets: int = 64,
                      id_col: str = "doc_id") -> DataFrame:
    """Serve one BM25 query from a :func:`build_bm25_index` store —
    identical scores to :func:`bm25_topk`, but the corpus is never
    rescanned: the postings read is PARTITION-PRUNED to the buckets
    the query terms hash to, df comes from one count over those same
    pruned rows, and the k-row head is TakeOrderedAndProject.

    ``n_buckets`` must match the build (it is the partition layout);
    the bucket ids are computed with one bounded driver-side job over
    the literal term list (same precedent as the ANN batch query-row
    collect — |terms| rows, never corpus-sized).
    """
    terms = _validate(query_terms, k, k1, b)
    term_rows = spark.createDataFrame([(t,) for t in terms], "term string")
    buckets = sorted({
        r.b for r in term_rows.select(
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("b"))
        .collect()})
    postings = (spark.read.parquet(f"{path}/postings")
                .where(F.col("term_bucket").isin(buckets))
                .where(F.col("term").isin(list(terms))))
    term_df = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = spark.read.parquet(f"{path}/stats")

    avgdl = F.col("total_toks").cast("double") / F.col("n_docs")
    contrib = F.round(
        _idf(F.col("n_docs").cast("double"), F.col("df").cast("double"))
        * _saturation(F.col("tf").cast("double"), F.col("dl").cast("double"),
                      avgdl, k1, b), 6).cast(_DEC)
    return (postings
            .join(F.broadcast(term_df), "term")
            .crossJoin(F.broadcast(stats))
            .select(id_col, contrib.alias("c"))
            .groupBy(id_col)
            .agg(F.sum("c").alias("c_total"))
            .select(id_col,
                    F.round(F.col("c_total").cast("double"), 6)
                     .alias("score"))
            .orderBy(F.desc("score"), F.asc(id_col))
            .limit(k))


def bm25_batch_topk_indexed(spark, path: str, queries: DataFrame,
                            k: int = 10, k1: float = 1.2, b: float = 0.75,
                            n_buckets: int = 64,
                            id_col: str = "doc_id",
                            query_id_col: str = "query_id",
                            terms_col: str = "terms") -> DataFrame:
    """The production serving shape: a QUERY BATCH against a STORED
    index — completes the (single, batch) x (scan, index) matrix.
    Scores identical to :func:`bm25_batch_topk` over the indexed
    corpus (pinned by test).

    One partition-pruned postings read covers the whole batch: the
    union of all query terms' buckets (PartitionFilters + a pushed
    term IN-filter), never the corpus and never a full index scan.
    From there the same broadcast-join + DECIMAL-sum +
    WindowGroupLimit pipeline as the direct batch form; per-term df
    is one count over the already-pruned rows (the tf table here IS
    the stored postings — no explode at all at serving time).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k1 < 0 or not (0.0 <= b <= 1.0):
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got k1={k1} b={b}")
    qterms = (queries.select(F.col(query_id_col),
                             F.explode_outer(terms_col).alias("term"))
              .distinct())
    terms, buckets = _batch_terms_buckets(qterms, n_buckets)
    postings = (spark.read.parquet(f"{path}/postings")
                .where(F.col("term_bucket").isin(buckets))
                .where(F.col("term").isin(terms)))
    term_df = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = spark.read.parquet(f"{path}/stats")

    avgdl = F.col("total_toks").cast("double") / F.col("n_docs")
    contrib = F.round(
        _idf(F.col("n_docs").cast("double"), F.col("df").cast("double"))
        * _saturation(F.col("tf").cast("double"), F.col("dl").cast("double"),
                      avgdl, k1, b), 6).cast(_DEC)
    per_doc = (postings
               .join(F.broadcast(qterms), "term")
               .join(F.broadcast(term_df), "term")
               .crossJoin(F.broadcast(stats))
               .select(query_id_col, id_col, contrib.alias("c"))
               .groupBy(query_id_col, id_col)
               .agg(F.sum("c").alias("c_total")))
    w = (Window.partitionBy(query_id_col)
         .orderBy(F.desc("c_total"), F.asc(id_col)))
    return (per_doc
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .select(query_id_col, id_col,
                    F.round(F.col("c_total").cast("double"), 6)
                     .alias("score"))
            .orderBy(query_id_col, F.desc("score"), F.asc(id_col)))


def bm25_batch_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
                    k1: float = 1.2, b: float = 0.75,
                    id_col: str = "doc_id", text_col: str = "text",
                    query_id_col: str = "query_id",
                    terms_col: str = "terms") -> DataFrame:
    """Top-``k`` documents for EVERY query in ``queries`` — one corpus
    scan amortized across the whole query batch.

    ``queries`` is small (a serving batch: ``(query_id,
    terms array<string>)``); it is broadcast, the corpus side never
    shuffles for the join. Returns ``(query_id, id_col, score)``.

    Scale shape: ONE corpus explode -> broadcast hash join on token ->
    groupBy(query, doc, term) tf counts (map-side combined: a term
    repeated in a doc collapses before the shuffle); per-term df
    derives from the SAME aggregate, whose exchange ReuseExchange
    dedupes inside the one final plan (plan-asserted) -> per-term
    contribution -> exact DECIMAL per-(query, doc) sum -> per-query
    rank <= k via WindowGroupLimit (each task keeps k rows per query
    before the final exchange on query_id). Total corpus scans: 2
    (tf build + the 1-row stats aggregate).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k1 < 0 or not (0.0 <= b <= 1.0):
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got k1={k1} b={b}")
    toks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))

    qterms = (queries.select(F.col(query_id_col),
                             F.explode_outer(terms_col).alias("term"))
              .distinct())
    # validation is a bounded driver action AT PLAN-CONSTRUCTION time
    # (the queries table is broadcast-small by contract; a derived
    # queries frame is evaluated here and again when the returned plan
    # runs — pre-materialize it if that double evaluation matters)
    _batch_terms_buckets(qterms, 1)
    # NOTE: pre-filtering the token ARRAY to the query terms before
    # the explode was tried and is SLOWER — the isin lambda inside the
    # array HOF runs interpreted per element (the round-4 interpreted-
    # HOF lesson), while the post-explode BroadcastHashJoin below is
    # whole-stage codegen. The explode itself emits no wider rows
    # than the scan already read.

    stats = docs.agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(F.size(toks)).alias("total_toks"))

    doc_tokens = fan_out(docs).select(
        F.col(id_col), F.size(toks).alias("dl"),
        F.explode(toks).alias("term"))
    # both the df derivation and the scoring branch consume this SAME
    # aggregate: its exchange subtree is identical on both sides, so
    # Spark's ReuseExchange dedupes it inside the one final plan and
    # the corpus is exploded exactly ONCE — measured FASTER than an
    # explicit persist (no materialization, no InMemoryTableScan
    # overhead) and with no cross-invocation cache-eviction hazard
    tf = (doc_tokens.join(F.broadcast(qterms), "term")
          .groupBy(query_id_col, id_col, "dl", "term")
          .agg(F.count(F.lit(1)).alias("tf")))

    # per-term document frequency from the SAME matched rows: a term's
    # df = distinct docs among its tf rows (a (doc, term) pair repeats
    # once per query containing the term — distinct collapses that)
    term_df = (tf.select("term", id_col).distinct()
               .groupBy("term").agg(F.count(F.lit(1)).alias("df")))

    avgdl = F.col("total_toks").cast("double") / F.col("n_docs")
    contrib = F.round(
        _idf(F.col("n_docs").cast("double"), F.col("df").cast("double"))
        * _saturation(F.col("tf").cast("double"), F.col("dl").cast("double"),
                      avgdl, k1, b), 6).cast(_DEC)
    per_doc = (tf.join(F.broadcast(term_df), "term")
               .crossJoin(F.broadcast(stats))
               .select(query_id_col, id_col, contrib.alias("c"))
               .groupBy(query_id_col, id_col)
               .agg(F.sum("c").alias("c_total")))
    w = (Window.partitionBy(query_id_col)
         .orderBy(F.desc("c_total"), F.asc(id_col)))
    return (per_doc
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .select(query_id_col, id_col,
                    F.round(F.col("c_total").cast("double"), 6)
                     .alias("score"))
            .orderBy(query_id_col, F.desc("score"), F.asc(id_col)))
