"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with JVM-side ``zip_with`` +
``aggregate`` (no Python). Scale path: sign-random-projection (SRP)
LSH bucketing so each query only scans its bucket — the IVF-style
candidate narrowing that survives a 100x scale-up.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lexmapr_spark.ops.util import fan_out


def _dot(a: Column, b: Column) -> Column:
    """Sequential IEEE-DOUBLE left fold. The explicit casts matter:
    float32 inputs would otherwise multiply in single precision, which
    flips the 6th rounded decimal for boundary cosines and is NOT
    reproducible by the DuckDB exact-fold oracle (verified: vecs 20
    and 72 vs query 0 differ at 6 dp between float and double
    products). Double products of exactly-widened float32 values are
    deterministic across Spark, DuckDB, and a driver-side loop."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a.cast("array<double>"), F.lit(0.0),
                              lambda acc, x: acc + x * x))


def cosine_topk(embeds: DataFrame, query_id: int, k: int = 10,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k vs the row with ``query_id``.

    The query vector rides along via a broadcast cross join (1 row);
    the scan+score stage is embarrassingly parallel, and only the
    final top-k induces a (tiny, k-row) ordering.
    """
    q = embeds.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec"))
    embeds = fan_out(embeds)
    scored = (
        embeds.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.round(
                _dot(F.col(vec_col), F.col("qvec"))
                / (_norm(F.col(vec_col)) * _norm(F.col("qvec"))), 6
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def srp_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list:
    """Deterministic sign-random-projection hyperplanes."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def srp_signature_exact(vec_col: Column, planes: list) -> Column:
    """Bit-string SRP signature via a JVM sequential left fold.

    Each projection is ``aggregate(zip_with(plane, vec, *), 0.0, +)``
    — a left-to-right IEEE-double fold, which DuckDB's
    ``list_sum(list_transform(...))`` and a plain Python loop
    reproduce BIT-FOR-BIT (verified on the contract data: 0/500
    mismatches across Spark/DuckDB/numpy). That determinism is what
    lets the SRP ANN and embedding near-dup contract queries be
    value-checked against a SQL oracle. Pure JVM (whole-stage
    codegen, no Python workers); for the default 12x64 plane grid the
    literal array is small and this path is also the fastest."""
    plane_lits = F.array(*[
        F.array(*[F.lit(float(x)) for x in p]) for p in planes])
    return F.concat_ws("", F.transform(
        plane_lits,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(p, vec_col.cast("array<double>"),
                           lambda a, b: a * b),
                F.lit(0.0), lambda acc, x: acc + x) >= 0,
            F.lit("1")).otherwise(F.lit("0"))))


def srp_signature_exact_arrow(vec_col: Column, planes: list) -> Column:
    """Arrow-batched twin of :func:`srp_signature_exact` — SAME bits,
    ~n_planes-fold cheaper.

    The JVM form evaluates one interpreted ``aggregate(zip_with(...))``
    fold PER PLANE PER ROW (higher-order functions sit outside
    whole-stage codegen), which dominates wall time once the banded
    near-dup derivation wants 30+ planes. This twin reproduces the
    exact sequential IEEE-double left fold in numpy by accumulating
    over the DIMENSION axis in order::

        acc = 0;  for d in 0..dim-1:  acc += vec[d] * plane[d]

    Each ``+=`` is one IEEE-754 double add per (row, plane) cell, in
    the identical order and with identical double products as the JVM
    fold and DuckDB's ``list_sum(list_transform(...))`` — so the sign
    bits (and therefore signatures) are BIT-IDENTICAL (pinned by
    test), while the batch and plane axes vectorize. No BLAS matmul:
    ``np.dot`` would reassociate the sum and flip near-zero signs.
    Self-contained closure (numpy/pandas only) — no package shipping
    needed on executors.
    """
    from pyspark.sql.functions import pandas_udf

    planes_arr = np.asarray(planes, dtype=np.float64)

    @pandas_udf("string")
    def sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack([np.asarray(v, dtype=np.float64)
                         for v in vecs])                 # (batch, dim)
        acc = np.zeros((mat.shape[0], planes_arr.shape[0]))
        for d in range(planes_arr.shape[1]):
            acc += mat[:, d:d + 1] * planes_arr[None, :, d]
        bits = acc >= 0
        return pd.Series(["".join("1" if b else "0" for b in row)
                          for row in bits])

    return sig(vec_col)


def cosine_exact_arrow(a_col: Column, b_col: Column) -> Column:
    """Arrow-batched twin of the ``_dot/_norm`` cosine — SAME double,
    vectorized.

    Accumulates dot and both squared norms over the dimension axis in
    order (one IEEE add per pair per dim, identical order/products to
    the JVM folds); ``np.sqrt`` and the final division are correctly-
    rounded IEEE ops exactly like the JVM's, so the UNROUNDED cosine
    is bit-identical (pinned by test) — callers apply the same
    ``F.round(.., 6)`` as the JVM path. Used where the pair volume
    makes per-pair interpreted HOF folds the bottleneck (the banded
    near-dup verify)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype=float)
        ma = np.vstack([np.asarray(v, dtype=np.float64) for v in a])
        mb = np.vstack([np.asarray(v, dtype=np.float64) for v in b])
        dot = np.zeros(len(ma))
        na = np.zeros(len(ma))
        nb = np.zeros(len(ma))
        for d in range(ma.shape[1]):
            dot += ma[:, d] * mb[:, d]
            na += ma[:, d] * ma[:, d]
            nb += mb[:, d] * mb[:, d]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    return cos(a_col, b_col)


def srp_project_exact(qvec, planes) -> list[float]:
    """Driver-side replica of :func:`srp_signature_exact`'s fold:
    sequential IEEE-double multiply-accumulate per plane — bit-equal
    to the JVM and DuckDB folds."""
    out = []
    for p in planes:
        acc = 0.0
        for a, b in zip(p, qvec):
            acc += float(a) * float(b)
        out.append(acc)
    return out


def srp_probe_buckets(qvec: np.ndarray, planes: np.ndarray,
                      prefix_bits: int,
                      n_probes: int | None = None) -> list[str]:
    """Multi-probe LSH bucket list for a query vector: its own SRP
    prefix bucket first, then the ``prefix_bits`` Hamming-1 neighbors
    ranked by how close the flipped plane's projection is to zero
    (the standard multi-probe ordering — the most borderline bit is
    the most likely home of missed neighbors)."""
    proj = np.asarray(srp_project_exact(
        np.asarray(qvec, dtype=np.float64), np.asarray(planes)))
    bits = proj >= 0
    bucket = "".join("1" if b else "0" for b in bits[:prefix_bits])
    by_margin = np.argsort(np.abs(proj[:prefix_bits]))
    flips = [
        bucket[:i] + ("0" if bucket[i] == "1" else "1") + bucket[i + 1:]
        for i in (int(j) for j in by_margin)
    ]
    probes = [bucket] + flips
    return probes if n_probes is None else probes[:max(1, n_probes)]


def srp_bucketed_topk(embeds: DataFrame, query_id: int, k: int = 10,
                      n_planes: int = 12, prefix_bits: int = 6,
                      n_probes: int | None = None,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """ANN: candidates = vectors in the query's SRP prefix bucket PLUS
    its Hamming-1 neighbor buckets (multi-probe LSH), re-ranked
    exactly. Single-bucket recall caps at the bucket population — at
    64 buckets a k=10 query can land in a 7-vector bucket — so the
    probe set defaults to 1 + prefix_bits buckets, margin-ordered.

    At scale the signature is precomputed and the table is
    bucketed/partitioned by prefix, so the probe set is a
    partition-pruned read of ``len(probes)`` partitions, not a scan;
    the probe buckets come from one driver-side O(n_planes * dim)
    matmul on the (1-row, primary-key) query vector."""
    from lexmapr_spark.engine import ship_package
    ship_package(embeds.sparkSession)
    qrow = embeds.where(F.col(id_col) == query_id).select(vec_col).first()
    if qrow is None:
        raise ValueError(
            f"srp_bucketed_topk: query_id {query_id} not found")
    qvec = np.asarray(list(qrow[0]), dtype=np.float64)
    planes = srp_hyperplanes(len(qvec), n_planes)
    probes = srp_probe_buckets(qvec, np.asarray(planes), prefix_bits,
                               n_probes)
    sig = fan_out(embeds).withColumn(
        "sig", srp_signature_exact(F.col(vec_col), planes))
    sig = sig.withColumn("bucket", F.substring("sig", 1, prefix_bits))
    q = embeds.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec"))
    cands = (
        sig.where(F.col("bucket").isin(probes))
        .where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(
                _dot(F.col(vec_col), F.col("qvec"))
                / (_norm(F.col(vec_col)) * _norm(F.col("qvec"))), 6
            ).alias("cosine"),
        )
    )
    return cands.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def _batch_query_rows(embeds: DataFrame, query_ids, id_col: str,
                      vec_col: str, op_name: str):
    """Shared batch-serving scaffolding: validate + collect the
    bounded query rows (one driver round-trip for the whole batch)."""
    qids = list(query_ids)
    if not qids:
        raise ValueError(f"{op_name}: empty query_ids")
    qrows = (embeds.where(F.col(id_col).isin(qids))
             .select(F.col(id_col), F.col(vec_col)).collect())
    missing = set(qids) - {r[0] for r in qrows}
    if missing:
        raise ValueError(
            f"{op_name}: query ids not found: {sorted(missing)}")
    return qrows


def _batch_query_frame(spark, qrows, id_ddl: str) -> DataFrame:
    """Broadcastable (query_id, qvec) frame built from the rows
    already collected by :func:`_batch_query_rows` (exact
    float->double widening) — the corpus side stays the only
    corpus-sized scan in a batch job."""
    return spark.createDataFrame(
        [(r[0], [float(x) for x in r[1]]) for r in qrows],
        f"query_id {id_ddl}, qvec ARRAY<DOUBLE>")


def _per_query_topk(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Exact top-k per query over (query_id, id, cosine) candidates:
    one window partitioned by query_id — bounded keys (the batch),
    bounded rows per key (that query's probed candidates)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc(id_col))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("query_id", id_col, "cosine"))


def srp_bucketed_topk_batch(embeds: DataFrame, query_ids, k: int = 10,
                            n_planes: int = 12, prefix_bits: int = 6,
                            n_probes: int | None = None,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Batch ANN serving: top-k for EVERY query id in ONE Spark job —
    the production path when queries arrive in batches (the per-query
    :func:`srp_bucketed_topk` costs a driver round-trip each).

    Returns (query_id, vec_id, cosine), k rows per query, identical
    to running the per-query form in a loop (pinned by test). Shape:
    the bounded query set is collected once to derive each query's
    multi-probe bucket list driver-side (O(n_queries * n_planes *
    dim) — the same work the per-query path does, amortized), the
    (query_id, bucket) probe pairs BROADCAST-join against the
    signature table (so a vector probed by several queries fans out
    without re-scanning), the query vectors broadcast in, and one
    per-query window takes the exact re-ranked top-k. The corpus is
    scanned exactly once regardless of batch size; at scale with a
    bucket-partitioned signature table the probe join prunes to the
    union of probed partitions."""
    qrows = _batch_query_rows(embeds, query_ids, id_col, vec_col,
                              "srp_bucketed_topk_batch")
    dim = len(qrows[0][1])
    planes = srp_hyperplanes(dim, n_planes)
    planes_arr = np.asarray(planes)
    probe_pairs = [
        (r[0], b) for r in qrows
        for b in srp_probe_buckets(
            np.asarray(list(r[1]), dtype=np.float64), planes_arr,
            prefix_bits, n_probes)
    ]
    spark = embeds.sparkSession
    id_ddl = embeds.schema[id_col].dataType.simpleString()
    probes_df = spark.createDataFrame(
        probe_pairs, f"query_id {id_ddl}, bucket STRING").distinct()

    sig = (fan_out(embeds)
           .withColumn("sig", srp_signature_exact(F.col(vec_col), planes))
           .withColumn("bucket", F.substring("sig", 1, prefix_bits)))
    qdf = _batch_query_frame(spark, qrows, id_ddl)
    scored = (
        sig.join(F.broadcast(probes_df), "bucket")
        .where(F.col(id_col) != F.col("query_id"))
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id", F.col(id_col),
            F.round(
                _dot(F.col(vec_col), F.col("qvec"))
                / (_norm(F.col(vec_col)) * _norm(F.col("qvec"))), 6
            ).alias("cosine"),
        )
    )
    return _per_query_topk(scored, id_col, k)


def lloyd_kmeans(data: np.ndarray, k: int, iters: int = 10,
                 seed: int = 42) -> np.ndarray:
    """Pure-numpy Lloyd k-means, fully determined by (data order, k,
    iters, seed). Shared by the Spark path and the contract oracle's
    driver-side replica, so both derive identical codebooks."""
    rng = np.random.default_rng(seed)
    centroids = data[rng.choice(len(data), size=min(k, len(data)),
                                replace=False)]
    for _ in range(iters):
        dists = ((data[:, None, :] - centroids[None, :, :]) ** 2).sum(-1)
        assign = dists.argmin(1)
        for c in range(len(centroids)):
            members = data[assign == c]
            if len(members):
                centroids[c] = members.mean(0)
    return centroids


def kmeans_centroids(embeds: DataFrame, k: int = 16, iters: int = 10,
                     sample: int = 2000, seed: int = 42,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> np.ndarray:
    """Deterministic driver-side k-means for IVF coarse quantization.

    Centroids train on a bounded sample (IVF codebooks are always
    trained on a sample, even at 100 TB); Lloyd iterations in numpy
    with a fixed seed, so reruns produce identical centroids. The
    sample is the ``sample`` lowest rows under ``md5(CAST(id AS
    STRING))`` — a total order independent of partition layout
    (unlike a bare ``limit``) that any other engine can reproduce
    (md5 of the decimal id string is engine-agnostic, which is what
    lets the DuckDB contract oracle rebuild the identical codebook).
    """
    rows = (embeds.select(F.col(vec_col))
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(sample).collect())
    if not rows:
        raise ValueError("kmeans_centroids: input DataFrame is empty")
    data = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    return lloyd_kmeans(data, k, iters, seed)


def ivf_assign(embeds: DataFrame, centroids: np.ndarray,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid (the IVF list id).

    Vectorized Arrow UDF: one numpy distance matrix per batch. At
    scale the output is written partitioned/bucketed by ``ivf_list``
    so a query reads only its probed lists.
    """
    from pyspark.sql.functions import pandas_udf

    cents = np.asarray(centroids)

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        return pd.Series(d.argmin(1).astype("int32"))

    from lexmapr_spark.engine import ship_package
    ship_package(embeds.sparkSession)
    return fan_out(embeds).withColumn("ivf_list", nearest(F.col(vec_col)))


def ivf_topk(embeds: DataFrame, query_id: int, k: int = 10,
             n_lists: int = 16, nprobe: int = 4,
             id_col: str = "vec_id",
             vec_col: str = "embedding",
             centroids: np.ndarray | None = None,
             assigned: DataFrame | None = None) -> DataFrame:
    """IVF ANN: exact re-rank restricted to the ``nprobe`` inverted
    lists nearest the query — the coarse-quantization complement to
    the SRP-LSH variant. Candidate set shrinks ~n_lists/nprobe-fold;
    at scale the lists are storage partitions, so this is a partition-
    pruned scan, not a filter.

    The amortized path — build the index once, query many times — is
    the production story: pass precomputed ``centroids``
    (from :func:`kmeans_centroids`) and ``assigned`` (the output of
    :func:`ivf_assign`, normally read back from storage partitioned by
    ``ivf_list``). The self-contained form (both None) retrains per
    call and exists for the one-shot contract query."""
    if centroids is None:
        centroids = kmeans_centroids(embeds, k=n_lists, id_col=id_col,
                                     vec_col=vec_col)
    else:
        centroids = np.asarray(centroids, dtype=np.float64)
    if assigned is None:
        assigned = ivf_assign(embeds, centroids, id_col, vec_col)
    qrow = embeds.where(F.col(id_col) == query_id).select(vec_col).first()
    if qrow is None:
        raise ValueError(f"ivf_topk: query_id {query_id} not found")
    qvec = np.asarray(list(qrow[0]), dtype=np.float64)
    probe_lists = (((centroids - qvec) ** 2).sum(1)).argsort()[:nprobe]
    cands = assigned.where(F.col("ivf_list").isin([int(x) for x in probe_lists]))
    q = embeds.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec"))
    scored = (
        cands.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.round(
                _dot(F.col(vec_col), F.col("qvec"))
                / (_norm(F.col(vec_col)) * _norm(F.col("qvec"))), 6
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def ivf_topk_batch(embeds: DataFrame, query_ids, k: int = 10,
                   n_lists: int = 16, nprobe: int = 4,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   centroids: np.ndarray | None = None,
                   assigned: DataFrame | None = None) -> DataFrame:
    """Batch IVF serving: every query's top-k in ONE job (the IVF
    analogue of :func:`srp_bucketed_topk_batch`).

    Probe lists per query are derived driver-side from the codebook
    (O(n_queries * n_lists * dim)); the (query_id, ivf_list) pairs
    broadcast-join against the assigned table — with a stored index
    the scan prunes to the UNION of probed lists — and one per-query
    window takes the exact top-k. Returns (query_id, vec_id, cosine),
    pinned equal to the per-query :func:`ivf_topk` loop."""
    if centroids is None:
        centroids = kmeans_centroids(embeds, k=n_lists, id_col=id_col,
                                     vec_col=vec_col)
    else:
        centroids = np.asarray(centroids, dtype=np.float64)
    if assigned is None:
        assigned = ivf_assign(embeds, centroids, id_col, vec_col)
    qrows = _batch_query_rows(embeds, query_ids, id_col, vec_col,
                              "ivf_topk_batch")
    pairs = []
    for r in qrows:
        qvec = np.asarray(list(r[1]), dtype=np.float64)
        for pl in (((centroids - qvec) ** 2).sum(1)).argsort()[:nprobe]:
            pairs.append((r[0], int(pl)))
    spark = embeds.sparkSession
    id_ddl = embeds.schema[id_col].dataType.simpleString()
    probes_df = spark.createDataFrame(
        pairs, f"query_id {id_ddl}, ivf_list INT")
    qdf = _batch_query_frame(spark, qrows, id_ddl)
    # static partition prune: the union of probed lists is known
    # driver-side, so with a stored (partitionBy ivf_list) index this
    # becomes PartitionFilters at planning time — the scan never opens
    # the other n_lists - |probes| directories; on an in-memory
    # assigned frame it is just a cheap pre-filter before the join
    probe_lists = sorted({pl for _, pl in pairs})
    assigned = assigned.where(F.col("ivf_list").isin(probe_lists))
    scored = (
        assigned.join(F.broadcast(probes_df), "ivf_list")
        .where(F.col(id_col) != F.col("query_id"))
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id", F.col(id_col),
            F.round(
                _dot(F.col(vec_col), F.col("qvec"))
                / (_norm(F.col(vec_col)) * _norm(F.col("qvec"))), 6
            ).alias("cosine"),
        )
    )
    return _per_query_topk(scored, id_col, k)


def write_ivf_index(assigned: DataFrame, path: str,
                    mode: str = "overwrite") -> None:
    """Materialize an IVF index: vectors partitioned by ``ivf_list``.

    One directory per inverted list, so a query that probes ``nprobe``
    lists is a PARTITION-PRUNED read (check ``PartitionFilters`` in
    the scan) — it never touches the other ``n_lists - nprobe``
    directories. This is the amortized production layout behind
    ``ivf_topk(centroids=..., assigned=read_ivf_index(...))``.
    """
    assigned.write.mode(mode).partitionBy("ivf_list").parquet(path)


def read_ivf_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_ivf_centroids(spark, centroids, path: str,
                        mode: str = "overwrite") -> None:
    """Persist the codebook next to the index (a few KB of parquet —
    doubles are stored exactly, so a read-back codebook reproduces the
    probe-list choices bit-for-bit)."""
    cents = np.asarray(centroids, dtype=np.float64)
    rows = [(i, [float(x) for x in cents[i]]) for i in range(len(cents))]
    spark.createDataFrame(rows, "ivf_list INT, centroid ARRAY<DOUBLE>") \
        .coalesce(1).write.mode(mode).parquet(path)


def read_ivf_centroids(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(path).orderBy("ivf_list").collect()
    return np.asarray([list(r.centroid) for r in rows], dtype=np.float64)


def derive_srp_bits(corpus_count: int, target_bucket: int = 8,
                    lo: int = 3, hi: int = 20) -> int:
    """Bits per SRP band/bucket so the EXPECTED bucket population
    stays ~``target_bucket`` as the corpus grows: ``ceil(log2(n /
    target))`` clamped to [lo, hi]. This is what makes the banded
    near-dup self-join's per-bucket candidate count O(target^2)
    instead of O((n / 2^fixed_bits)^2) — the key cardinality scales
    WITH the corpus rather than being a constant 2^8."""
    import math

    n = max(int(corpus_count), 2)
    return max(lo, min(hi, math.ceil(math.log2(n / max(target_bucket, 1)))))


def srp_band_candidates(embeds: DataFrame, n_bands: int = 4,
                        bits_per_band: int | None = None,
                        target_bucket: int = 8,
                        corpus_count: int | None = None,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        max_mismatch: int | None = None) -> DataFrame:
    """DISTINCT (id_a, id_b) candidate pairs that share at least one
    full SRP band — :func:`embedding_near_duplicates`'s candidate
    stage, factored out so candidate-count scaling is testable on its
    own (the verify stage is pure filtering and cannot mask a
    quadratic candidate blowup).

    ``max_mismatch`` (r7): optional signature-Hamming pre-filter —
    keep a colliding pair only when its FULL signatures differ in at
    most that many bits. A random collision pair mismatches ~half its
    signature bits while a qualifying near-dup mismatches ~theta/pi of
    them, so a generous bound kills almost every random band collision
    BEFORE the wide embedding vectors are joined back for the exact
    cosine verify — the verify join volume drops from
    O(band collisions) to ~O(true pairs). The hamming count is pure
    whole-stage-codegen JVM (per-band conv -> xor -> bit_count, no
    HOF), mirrored exactly by the DuckDB oracle (xor of BIT strings).
    """
    first = embeds.select(vec_col).first()
    if first is None:
        raise ValueError("srp_band_candidates: input DataFrame is empty")
    dim = len(first[0])
    if bits_per_band is None:
        n = corpus_count if corpus_count is not None else embeds.count()
        bits_per_band = derive_srp_bits(n, target_bucket)
    planes = srp_hyperplanes(dim, n_bands * bits_per_band)
    # Arrow twin: bit-identical to the JVM fold (and the DuckDB
    # oracle), but the 30+ plane folds the banded derivation wants
    # vectorize instead of running interpreted per plane per row.
    # Lazily localCheckpoint'ed: BOTH band self-join sides reference
    # this frame and the executed plan showed ZERO ReusedExchange —
    # without the checkpoint the Arrow signature pass runs once per
    # side (measured, plan-asserted in tests); the stored blocks are
    # one narrow (id, bit-string) row per vector, released by the
    # ContextCleaner once the result frame is dropped (GC-timed, not
    # scope-bounded — acceptable for per-query frames; a standing
    # service should persist/unpersist explicitly instead)
    sig = embeds.select(
        F.col(id_col),
        srp_signature_exact_arrow(F.col(vec_col), planes).alias("sig")) \
        .localCheckpoint(eager=False)
    # For the optional hamming pre-filter, the per-band INTEGER codes
    # are decoded ONCE PER SIGNATURE ROW before the explode (r7
    # second-pass fix: decoding `conv(substring(sig, ...), 2, 10)`
    # inside the join filter re-ran the string work per CANDIDATE —
    # millions of times at deep scale instead of n_docs times). The
    # band join output then needs only long xor + bit_count per pair.
    code_cols = []
    if max_mismatch is not None:
        code_cols = [
            F.conv(F.substring("sig", i * bits_per_band + 1,
                               bits_per_band), 2, 10)
            .cast("long").alias(f"_bc{i}")
            for i in range(n_bands)]
    bands = sig.select(
        F.col(id_col), *code_cols,
        F.posexplode(F.array(*[
            F.substring("sig", b * bits_per_band + 1, bits_per_band)
            for b in range(n_bands)
        ])).alias("band_id", "band_key"))
    a, b = bands.alias("a"), bands.alias("b")
    joined = a.join(
        b, (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    if max_mismatch is not None:
        ham = None
        for i in range(n_bands):
            piece = F.bit_count(
                F.col(f"a._bc{i}").bitwiseXOR(F.col(f"b._bc{i}")))
            ham = piece if ham is None else ham + piece
        joined = joined.where(ham <= F.lit(int(max_mismatch)))
    return (
        joined
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def embedding_near_duplicates(embeds: DataFrame, threshold: float = 0.95,
                              n_bands: int = 4,
                              bits_per_band: int | None = None,
                              target_bucket: int = 8,
                              corpus_count: int | None = None,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup pairs via banded SRP LSH + exact
    cosine verification — the embedding analogue of MinHash-LSH
    banding (``ops/dedup.py band_key_exprs``).

    Scale design (replaces the round-1..5 fixed ``2^prefix_bits``
    bucket self-join, whose candidate count grew as (n/256)^2 by
    construction): each vector gets an ``n_bands * bits_per_band``-bit
    SRP signature, split into ``n_bands`` bands; two vectors become a
    candidate pair iff they agree on ALL bits of at least one band.
    ``bits_per_band`` defaults to :func:`derive_srp_bits` over the
    corpus count, so expected bucket population — and therefore
    per-bucket join fan-out — stays ~``target_bucket`` no matter how
    large the corpus is. Candidate (id_a, id_b) pairs are DISTINCT'd
    BEFORE vectors are re-joined for the exact verify, so the wide
    embedding column never rides through the band explode and a pair
    matching in several bands is verified once.

    Recall: P(band match) = p^r with p = 1 - theta/pi; at
    threshold 0.99 (theta ~ 8.1 deg, p ~ .955) and r = 7, 4 bands
    give P(candidate) ~ .99 per qualifying pair, and exact
    duplicates always collide in every band.

    Hamming pre-filter (r7): a qualifying pair at ``threshold``
    mismatches an expected ``theta/pi`` fraction of its signature
    bits, a random band collision ~half of them. Candidates whose
    full-signature mismatch exceeds ``2*theta/pi + 0.06`` of the
    total bits (double the expectation plus a 2-sigma-ish absolute
    slack at 36 bits) are dropped before the embedding vectors are
    re-joined for the exact verify — the tail probability a true pair
    loses is <0.5% (Binomial(36, .045) above 5.4), far under the
    band-recall haircut, while random collisions (mean mismatch 18 of
    36) essentially never survive. Exact duplicates mismatch 0 bits
    and always survive.
    """
    import math

    from lexmapr_spark.engine import ship_package
    ship_package(embeds.sparkSession)
    embeds = fan_out(embeds)
    if bits_per_band is None:
        n = corpus_count if corpus_count is not None else embeds.count()
        bits_per_band = derive_srp_bits(n, target_bucket)
    theta_frac = math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    total_bits = n_bands * bits_per_band
    max_mm = math.ceil(total_bits * min(0.5, 2.0 * theta_frac + 0.06))
    cand = srp_band_candidates(embeds, n_bands=n_bands,
                               bits_per_band=bits_per_band,
                               target_bucket=target_bucket,
                               corpus_count=corpus_count,
                               id_col=id_col, vec_col=vec_col,
                               max_mismatch=max_mm)
    va = embeds.select(F.col(id_col).alias("id_a"),
                       F.col(vec_col).alias("_vec_a"))
    vb = embeds.select(F.col(id_col).alias("id_b"),
                       F.col(vec_col).alias("_vec_b"))
    pairs = (
        cand.join(va, "id_a").join(vb, "id_b")
        .select(
            "id_a", "id_b",
            # Arrow twin of the JVM fold cosine (bit-identical double,
            # same F.round) — candidate volume scales with the corpus,
            # so per-pair interpreted folds would dominate wall time
            F.round(cosine_exact_arrow(F.col("_vec_a"),
                                       F.col("_vec_b")),
                    6).alias("cosine"),
        )
    )
    return pairs.where(F.col("cosine") >= threshold)


# ---------------------------------------------------------------------------
# int8 embedding quantization (round 3)
# ---------------------------------------------------------------------------

def quantize_embeddings(embeds: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization:
    ``scale = max(|x|) / 127``, ``q_i = floor(x_i / scale + 0.5)``
    clamped to [-127, 127] — a 4x storage/scan-bandwidth cut for a
    100 TB embedding table, with exact dequantization ``x ~ q * scale``
    for downstream scoring.

    Pure JVM (``aggregate``/``transform``, no shuffle). ``floor(v +
    0.5)`` is used instead of ``round`` so ties break identically in
    Spark, DuckDB, and numpy (HALF_UP toward +inf — engine ``round``
    builtins disagree on halves). All-zero vectors quantize to zeros
    with scale 0.

    Two-stage projection on purpose: ``scale`` becomes a REAL
    attribute before the per-element lambda references it. Higher-
    order functions are evaluated interpreted (outside whole-stage
    codegen) with no common-subexpression elimination, so embedding
    the aggregate directly in the lambda body would re-run the
    O(dim) max-fold once per ELEMENT — O(dim^2) interpreted ops per
    row (measured ~10x on the composed quantized-SRP query).
    Catalyst's CollapseProject keeps the stage split because the
    scale alias is non-cheap and multiply-referenced.
    """
    embeds = fan_out(embeds)
    vec = F.col(vec_col)
    amax = F.aggregate(vec, F.lit(0.0),
                       lambda acc, x: F.greatest(acc, F.abs(x)))
    staged = embeds.select(F.col(id_col), vec.alias("_vec"),
                           (amax / F.lit(127.0)).alias("scale"))
    scale = F.col("scale")
    q = F.when(scale > 0, F.transform(
        F.col("_vec"), lambda x: F.greatest(
            F.lit(-127), F.least(
                F.lit(127),
                F.floor(x / scale + F.lit(0.5)).cast("int"))))
    ).otherwise(F.transform(F.col("_vec"), lambda x: F.lit(0)))
    return staged.select(
        F.col(id_col),
        q.cast("array<tinyint>").alias("qvec"),
        scale)


def cosine_topk_quantized(quantized: DataFrame, query_id: int,
                          k: int = 10, id_col: str = "vec_id") -> DataFrame:
    """Brute-force cosine top-k over a quantized table.

    Cosine is scale-invariant, so the per-vector scales cancel and the
    score is computed directly on the int8 codes (integer dot products
    — narrower scans AND cheaper arithmetic than the float path). Same
    1-row broadcast + TakeOrderedAndProject shape as
    :func:`cosine_topk`.
    """
    q = quantized.where(F.col(id_col) == query_id).select(
        F.col("qvec").alias("q_query"))
    quantized = fan_out(quantized)
    dvec = F.col("qvec").cast("array<double>")
    dq = F.col("q_query").cast("array<double>")
    scored = (
        quantized.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.round(_dot(dvec, dq) / (_norm(dvec) * _norm(dq)), 6)
             .alias("cosine_q")))
    return scored.orderBy(F.desc("cosine_q"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# ANN recall evaluation (round 3)
# ---------------------------------------------------------------------------

def srp_bucketed_topk_quantized(quantized: DataFrame, query_id: int,
                                k: int = 10, n_planes: int = 12,
                                prefix_bits: int = 6,
                                n_probes: int | None = None,
                                id_col: str = "vec_id") -> DataFrame:
    """SRP-bucketed ANN over an int8-quantized table
    (:func:`quantize_embeddings` output): 4x narrower scans AND bucket-pruned
    candidates, with no float vectors anywhere in the serving path.

    Signatures are computed over the DEQUANTIZED codes
    (``code * scale``): each product is one exact IEEE-double multiply
    of an integer-valued double by the stored scale, so the
    sequential fold stays bit-identical across Spark, DuckDB, and the
    driver-side probe computation (integer codes are what make this
    stable — the reason a quantized SRP bucket is safe to
    materialize). Scoring is the scale-invariant integer cosine of
    :func:`cosine_topk_quantized`, re-ranked exactly within the
    multi-probe bucket set."""
    from lexmapr_spark.engine import ship_package
    ship_package(quantized.sparkSession)
    qrow = (quantized.where(F.col(id_col) == query_id)
            .select("qvec", "scale").first())
    if qrow is None:
        raise ValueError(
            f"srp_bucketed_topk_quantized: query_id {query_id} not found")
    scale = float(qrow[1])
    dq = np.asarray([float(c) * scale for c in qrow[0]],
                    dtype=np.float64)
    planes = srp_hyperplanes(len(dq), n_planes)
    probes = srp_probe_buckets(dq, np.asarray(planes), prefix_bits,
                               n_probes)
    deq_col = F.transform(F.col("qvec").cast("array<double>"),
                          lambda x: x * F.col("scale"))
    sig = (fan_out(quantized)
           .withColumn("bucket",
                       F.substring(srp_signature_exact(deq_col, planes),
                                   1, prefix_bits)))
    # probe restriction as a broadcast JOIN, not a where(): a filter
    # on a computed column gets pushed below the projection with the
    # whole interpreted signature expression substituted into the
    # scan-side condition (HOFs get no codegen subexpression
    # elimination, so the nested dequantize re-evaluates per fold —
    # measured ~15x slower); the join consumes bucket as a computed
    # attribute exactly once per row.
    spark = quantized.sparkSession
    probes_df = spark.createDataFrame([(b,) for b in probes],
                                      "bucket STRING")
    q = quantized.where(F.col(id_col) == query_id).select(
        F.col("qvec").alias("q_query"))
    dvec = F.col("qvec").cast("array<double>")
    dqq = F.col("q_query").cast("array<double>")
    cands = (
        sig.join(F.broadcast(probes_df), "bucket")
        .where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(_dot(dvec, dqq) / (_norm(dvec) * _norm(dqq)), 6)
             .alias("cosine_q")))
    return cands.orderBy(F.desc("cosine_q"), F.asc(id_col)).limit(k)


def ann_recall(embeds: DataFrame, method, k: int = 10,
               n_queries: int = 20, id_col: str = "vec_id",
               vec_col: str = "embedding") -> dict:
    """Measured recall@k of an ANN method against exact brute-force
    truth — the "measure, don't guess" harness for choosing
    probe/list parameters before a 100 TB rollout.

    ``method(embeds, query_id, k) -> DataFrame`` whose first column is
    the neighbor id (``cosine_topk``, ``srp_bucketed_topk``,
    ``ivf_topk``, ``cosine_topk_quantized`` over a pre-quantized
    frame, or any same-shaped callable). Queries are the first
    ``n_queries`` ids in md5-hash order (deterministic, uniform).

    The truth side is ONE job: the bounded query set broadcasts
    against the corpus and a per-query window takes exact top-k —
    corpus x n_queries rows, never corpus x corpus. The method side
    loops the bounded query list driver-side; this is an evaluation
    harness, bounded by ``n_queries``, not a production scoring path.

    Returns ``{"recall": mean, "per_query": {qid: recall},
    "k": k, "n_queries": n}``.
    """
    from pyspark.sql.window import Window

    from lexmapr_spark.ops.sampling import _hash60

    qids = [r[0] for r in
            embeds.select(id_col)
            .orderBy(_hash60(F.col(id_col)), F.col(id_col))
            .limit(n_queries).collect()]

    qdf = (embeds.where(F.col(id_col).isin(qids))
           .select(F.col(id_col).alias("query_id"),
                   F.col(vec_col).alias("qvec")))
    scored = (fan_out(embeds).crossJoin(F.broadcast(qdf))
              .where(F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col),
                      F.round(_dot(F.col(vec_col), F.col("qvec"))
                              / (_norm(F.col(vec_col))
                                 * _norm(F.col("qvec"))), 6)
                       .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc(id_col))
    truth_rows = (scored.withColumn("rn", F.row_number().over(w))
                  .where(F.col("rn") <= k)
                  .select("query_id", id_col).collect())
    truth: dict = {}
    for r in truth_rows:
        truth.setdefault(r[0], set()).add(r[1])

    per_query = {}
    for qid in qids:
        got = {r[0] for r in method(embeds, qid, k).collect()}
        # standard recall@k: denominator is the ACHIEVABLE truth-set
        # size (min(k, corpus-1)), so tiny corpora don't understate
        # exact methods
        denom = max(1, len(truth.get(qid, set())))
        per_query[qid] = len(got & truth.get(qid, set())) / float(denom)
    mean = sum(per_query.values()) / len(per_query) if per_query else 0.0
    return {"recall": round(mean, 4), "per_query": per_query,
            "k": k, "n_queries": len(qids)}


# ---------------------------------------------------------------------------
# SemDeDup: semantic (embedding-cluster) deduplication (round 6)
# ---------------------------------------------------------------------------

def _round6_ge_cut(threshold: float) -> float:
    """Smallest double ``x`` for which Spark's
    ``round(x, 6) >= lit(threshold)`` holds, for a positive
    ``threshold`` that is itself an exact <=6-dp decimal (e.g. 0.99).

    Spark's ``round`` is HALF_UP over the double's exact decimal
    expansion, so for positive x the predicate is equivalent to
    ``exact(x) >= threshold - 0.0000005`` in exact decimal arithmetic;
    this returns the smallest double at or above that bound, letting a
    numpy stage make the identical keep/drop decision with one plain
    double comparison per pair (no per-pair decimal rounding)."""
    import math
    from decimal import Decimal

    if threshold <= 0:
        raise ValueError("_round6_ge_cut: threshold must be positive")
    bound = Decimal(repr(threshold)) - Decimal("0.0000005")
    x = float(bound)
    if Decimal(x) >= bound:
        while True:
            y = math.nextafter(x, -math.inf)
            if Decimal(y) >= bound:
                x = y
            else:
                return x
    while Decimal(x) < bound:
        x = math.nextafter(x, math.inf)
    return x


def _semantic_dedup_pairjoin(embeds: DataFrame, threshold: float = 0.95,
                             k: int = 16, centroids=None,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Pre-r9 pair-join reference implementation of
    :func:`semantic_dedup` — kept (unexported) as the differential
    twin for ``test_semantic_dedup_matches_pairjoin``; the production
    path is the grouped-numpy form below, which must stay
    row-identical to this one."""
    from lexmapr_spark.engine import ship_package
    ship_package(embeds.sparkSession)
    if centroids is None:
        centroids = kmeans_centroids(embeds, k=k, id_col=id_col,
                                     vec_col=vec_col)
    cents = np.asarray(centroids, dtype=np.float64)
    assigned = ivf_assign(embeds, cents, id_col=id_col, vec_col=vec_col)
    spark = embeds.sparkSession
    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
        "ivf_list int, cvec array<double>")
    ranked = (
        assigned.join(F.broadcast(cent_df), "ivf_list")
        .select(
            F.col(id_col), F.col(vec_col), F.col("ivf_list"),
            F.round(_dot(F.col(vec_col), F.col("cvec"))
                    / (_norm(F.col(vec_col)) * _norm(F.col("cvec"))), 6)
             .alias("cent_cos"))
    ).localCheckpoint(eager=False)
    a = ranked.alias("a")
    b = ranked.alias("b")
    earlier = (
        (F.col("b.cent_cos") < F.col("a.cent_cos"))
        | ((F.col("b.cent_cos") == F.col("a.cent_cos"))
           & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}")))
    )
    drops = (
        a.join(b, (F.col("a.ivf_list") == F.col("b.ivf_list")) & earlier)
        .where(F.round(cosine_exact_arrow(F.col(f"a.{vec_col}"),
                                          F.col(f"b.{vec_col}")), 6)
               >= threshold)
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )
    return (ranked.join(drops, id_col, "left_anti")
            .select(id_col, "ivf_list", "cent_cos"))


def semantic_dedup(embeds: DataFrame, threshold: float = 0.95,
                   k: int = 16, centroids=None,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): drop documents
    that are SEMANTIC duplicates — near-identical in embedding space —
    of a kept document in the same k-means cluster.

    Published algorithm, published one-pass ranking: cluster the
    corpus with k-means, then WITHIN each cluster rank examples by
    cosine similarity to the cluster centroid (the paper keeps the
    LOW-similarity extreme of each duplicate ball) and drop ``x`` iff
    some earlier-ranked ``y`` in the same cluster has
    ``cos(x, y) >= threshold``. Ranking against already-RANKED (not
    already-KEPT) neighbours is the standard large-scale
    implementation of the paper's greedy (e.g. NVIDIA NeMo-Curator's
    semdedup): one self-join pass, no sequential per-cluster loop, at
    the cost of occasionally dropping a chain member the strict greedy
    would keep — deterministic either way.

    Scale design: the codebook is driver-trained on a bounded
    deterministic sample (:func:`kmeans_centroids` — same at 100 TB);
    assignment is one Arrow-batched pass; the pairwise stage touches
    only same-cluster pairs via an equi-join on ``ivf_list``, so its
    cost is sum(cluster_size^2) — ``k`` MUST grow with the corpus to
    bound cluster sizes (the paper uses 50k clusters for LAION;
    rule of thumb k ~ n / 1000). Centroid-cosine ranks ride the JVM
    fold (codegen); only the per-pair verify is an Arrow batch. For
    clusters still too large, compose with
    :func:`srp_band_candidates` inside the cluster.

    Returns survivors as ``(id, ivf_list, cent_cos)`` with
    ``cent_cos`` the rank key (rounded 6 dp — the rounding IS the
    cross-engine contract, ties broken by id).
    """
    from lexmapr_spark.engine import ship_package
    ship_package(embeds.sparkSession)
    if centroids is None:
        centroids = kmeans_centroids(embeds, k=k, id_col=id_col,
                                     vec_col=vec_col)
    cents = np.asarray(centroids, dtype=np.float64)
    assigned = ivf_assign(embeds, cents, id_col=id_col, vec_col=vec_col)

    spark = embeds.sparkSession
    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
        "ivf_list int, cvec array<double>")
    ranked = (
        assigned.join(F.broadcast(cent_df), "ivf_list")
        .select(
            F.col(id_col), F.col(vec_col), F.col("ivf_list"),
            F.round(_dot(F.col(vec_col), F.col("cvec"))
                    / (_norm(F.col(vec_col)) * _norm(F.col("cvec"))), 6)
             .alias("cent_cos"))
    )
    # Per-cluster survivor selection as ONE grouped Arrow stage
    # (r9 optimization): the former cluster self-join materialized
    # sum(cluster_size^2)/2 candidate rows and shipped BOTH vectors of
    # every pair through an ArrowEvalPython cosine (~50M pairs and 68 s
    # at the 20k-vector bench scale). The pairwise work is unavoidable
    # (it IS the algorithm), but it needs each vector once per
    # CLUSTER, not once per PAIR: groupBy(ivf_list).applyInPandas
    # ships each cluster's vectors a single time and evaluates the
    # pair matrix in numpy with the SAME sequential dimension-order
    # IEEE fold as cosine_exact_arrow / the JVM _dot (one add per pair
    # per dim, identical order and products — bit-identical cosines,
    # pinned by test_semantic_dedup_matches_pairjoin). The 6-dp
    # HALF_UP round + ">= threshold" decision is applied via the exact
    # double cut ``_round6_ge_cut(threshold)`` — the smallest double
    # whose Spark ``round(x, 6) >= threshold`` holds — so the kept set
    # is decision-identical without re-implementing decimal rounding
    # per pair. Plan: ONE shuffle by ivf_list replaces the self-join
    # exchanges + anti-join; cost is sum over clusters of
    # O(size^2 * dim) vectorized flops (k must still grow with the
    # corpus to bound cluster sizes, exactly as documented above).
    t_cut = _round6_ge_cut(threshold)
    out_schema = StructType([ranked.schema[id_col],
                             ranked.schema["ivf_list"],
                             ranked.schema["cent_cos"]])

    def cluster_survivors(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        ids = pdf[id_col].to_numpy()
        cc = pdf["cent_cos"].to_numpy(dtype=np.float64)
        if n <= 1:
            return pdf[[id_col, "ivf_list", "cent_cos"]]
        # rank order: ascending (cent_cos, id) — row j is "earlier"
        # than row i iff j < i in this order (ties impossible: id is
        # unique and the secondary key)
        order = np.lexsort((ids, cc))
        v = np.zeros((n, len(pdf[vec_col].iloc[0])), dtype=np.float64)
        vals = pdf[vec_col].to_numpy()
        for i, j in enumerate(order):
            v[i] = np.asarray(vals[j], dtype=np.float64)
        # squared norms with the fold's accumulation order (na += x*x
        # over dims) — shared by every pair the row takes part in
        n2 = np.zeros(n)
        for d in range(v.shape[1]):
            n2 += v[:, d] * v[:, d]
        sn = np.sqrt(n2)
        dropped = np.zeros(n, dtype=bool)
        rb, cb = 2048, 4096
        for s in range(1, n, rb):
            e = min(s + rb, n)
            rows = np.arange(s, e)
            for c0 in range(0, e, cb):
                c1 = min(c0 + cb, e)
                acc = np.zeros((e - s, c1 - c0))
                for d in range(v.shape[1]):
                    acc += v[s:e, d:d + 1] * v[c0:c1, d][None, :]
                cos = acc / (sn[s:e, None] * sn[c0:c1][None, :])
                hit = (cos >= t_cut) \
                    & (np.arange(c0, c1)[None, :] < rows[:, None])
                dropped[s:e] |= hit.any(axis=1)
        keep_ids = ids[order[~dropped]]
        mask = pdf[id_col].isin(keep_ids)
        return pdf.loc[mask, [id_col, "ivf_list", "cent_cos"]]

    return (ranked.groupBy("ivf_list")
            .applyInPandas(cluster_survivors, out_schema))
