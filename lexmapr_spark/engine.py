"""The Spark-native KG-construction pipeline.

Stages (all declared on the DataFrame API so Catalyst prunes columns
and pushes filters into the scan):

  pages scan -> [lang filter, column prune] -> text extraction
    -> annotate (ONE Arrow-batched ``mapInPandas`` stage carrying the
       whole matching cascade against the broadcast lexicon — the
       moral equivalent of a chain of broadcast hash joins; zero
       shuffles on this path; triple-only callers ship just
       ``TRIPLE_FIELDS`` back through Arrow)
    -> triple emission (``explode`` + project; map-side-combined
       ``dropDuplicates``)
    -> canonicalization (broadcast join onto the alias graph's
       component minima, computed on the driver from the lexicon)
    -> bucket-partitioned sink with a per-bucket checkpoint manifest
       (one manifest write per chunk of buckets) so a killed run
       resumes without recomputing completed buckets.

Scale notes: the lexicon broadcast is a few MB; annotation is
embarrassingly parallel; the only shuffle is the triple dedup.
Head-domain skew in mentions is handled by AQE (enabled in
``build_spark``) plus the optional salted repartition in ``triples``
— both exercised in tests.
"""

from __future__ import annotations

import logging
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from lexmapr_spark.lexicon import Lexicon, default_lexicon
from lexmapr_spark.matcher import format_wide_cells, wide_headers
from lexmapr_spark.ops.util import fan_out

_log = logging.getLogger(__name__)

MENTION_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("sample_desc", StringType()),
    StructField("processed_sample", StringType()),
    StructField("processed_sample_sci_name", StringType()),
    StructField("matched_components", ArrayType(StringType())),
    # unmangled (label, id) pairs for triple emission (see matcher)
    StructField("matched_pairs", ArrayType(StructType([
        StructField("label", StringType()),
        StructField("term_id", StringType()),
    ]))),
    StructField("macro_status", StringType()),
    StructField("micro_status", ArrayType(StringType())),
    # ordered (token, lemma) pairs — a MapType would lose insertion
    # order through Arrow, breaking byte-exact reference TSV rendering
    StructField("transformations", ArrayType(StructType([
        StructField("token", StringType()),
        StructField("lemma", StringType()),
    ]))),
])

# extra columns when annotate(classify=True): the decoded label array
# (for downstream aggregation) plus the three full-bucket tiers in
# their reference display form (pipeline.py:81-92,286-289)
CLASSIFY_FIELDS = [
    StructField("ifsac_labels", ArrayType(StringType())),
    StructField("lexmapr_classification", StringType()),
    StructField("lexmapr_bucket", StringType()),
    StructField("third_party_bucket", StringType()),
]

# extra columns when annotate(confidence=True): inputs for the C7
# confidence scorer (lexmapr_spark/confidence.py) — cleaned-sample
# tokens and the component-match covered set (pipeline.py:195-219)
CONFIDENCE_FIELDS = [
    StructField("sample_tokens", ArrayType(StringType())),
    StructField("covered_tokens", ArrayType(StringType())),
]

OBO_PREFIX = "http://purl.obolibrary.org/obo/"
_PRED = {"Full Term Match": "fullTermMatch", "Component Match": "componentMatch"}


def build_spark(cpus: int | str = "*", app: str = "lexmapr_spark",
                shuffle_partitions: int | None = None) -> SparkSession:
    """local[cpus] session tuned the way a cluster job would be."""
    cpus = str(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 8)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # pin the session timezone: timestamp rendering/epoch functions
        # (date_format, unix_timestamp) must agree with the DuckDB
        # oracles' naive-UTC reading of the same parquet on ANY host,
        # not just one whose system TZ happens to be UTC (r7 review)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .getOrCreate()
    )


import weakref

# weak refs: entries vanish with their SparkContext, so a new context
# at a recycled id() can never be mistaken for an already-shipped one
_SHIPPED: "weakref.WeakSet" = weakref.WeakSet()


def ship_package(spark: SparkSession) -> None:
    """Make ``lexmapr_spark`` importable on executor Python workers.

    Zips the package's .py files and ``addPyFile``s the archive — the
    same mechanism ``spark-submit --py-files`` uses, so ``entry()``
    works no matter where the driver process was launched from.
    (Resource CSVs are NOT needed on workers: the lexicon compiles
    driver-side and ships via broadcast.)
    """
    sc = spark.sparkContext
    if sc in _SHIPPED:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if ".zip" in pkg_dir or not os.path.isdir(pkg_dir):
        # already imported from a --py-files archive: workers get the
        # same archive from spark-submit, nothing to ship
        _SHIPPED.add(sc)
        return
    zip_path = os.path.join(tempfile.mkdtemp(prefix="lexmapr_pyfiles"),
                            "lexmapr_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    _SHIPPED.add(sc)


def broadcast_lexicon(spark: SparkSession, lex: Lexicon | None = None):
    """Ship the compiled lexicon to executors once (a few MB)."""
    ship_package(spark)
    return spark.sparkContext.broadcast(lex or default_lexicon())


# annotate's output fields after ``url``, each with its MatchResult
# extractor; every value is a pure function of the page text
_EXTRACT = {
    "sample_desc": lambda r: r.sample_desc,
    "processed_sample": lambda r: r.processed_sample,
    "processed_sample_sci_name": lambda r: r.processed_sample_sci_name,
    "matched_components": lambda r: r.matched_components,
    "matched_pairs": lambda r: [{"label": lb, "term_id": ti}
                                for lb, ti in r.matched_pairs],
    "macro_status": lambda r: r.macro_status,
    "micro_status": lambda r: r.micro_status,
    "transformations": lambda r: [{"token": k, "lemma": v}
                                  for k, v in r.transformations.items()],
    "sample_tokens": lambda r: r.sample_tokens,
    "covered_tokens": lambda r: r.covered_tokens,
    "ifsac_labels": lambda r: r.third_party_classification,
    # the full-bucket tiers are nested Python structures (int-keyed
    # dicts); the reference renders them with str() (pipeline.py:286-289),
    # so they are serialized to the display form worker-side, where the
    # objects live — byte-exact through Arrow by construction
    "lexmapr_classification": lambda r: str(r.lexmapr_classification),
    "lexmapr_bucket": lambda r: str(r.lexmapr_bucket),
    "third_party_bucket": lambda r: str(r.third_party_bucket),
}

# the mention columns triples_projection reads
TRIPLE_FIELDS = ("url", "macro_status", "matched_pairs")


def annotate(pages: DataFrame, lex_bc, url_col: str = "url",
             text_col: str = "text",
             min_partitions: int | None = 0,
             classify: bool = False,
             confidence: bool = False,
             extra_cols: tuple = (),
             fields: tuple | None = None) -> DataFrame:
    """pages -> wide mention table via one Arrow-batched stage.

    Narrow on the matching path: each Arrow batch of (url, text) rows
    runs the cascade against the executor-local broadcast lexicon.
    Input is pre-projected to two columns so the parquet scan only
    reads what it needs (check ``ReadSchema`` in ``.explain``).

    ``min_partitions``: the matching stage is CPU-bound, so a small
    input (one parquet file -> one task) strands every other core.
    The (url, text) projection goes through
    :func:`lexmapr_spark.ops.util.fan_out` — default (0 = auto)
    round-robin-repartitions up to the session's default parallelism
    when the input has fewer splits, a cheap shuffle that buys
    full-cluster fan-out. Pass ``None`` to forbid any shuffle (big
    scans already arrive with thousands of splits and skip this
    automatically).

    ``extra_cols``: passthrough columns carried verbatim through the
    Arrow stage (e.g. a partition/bucket id or document metadata) —
    they ride along in each batch and are appended to the output
    schema, so downstream stages keep them without a join back.

    ``fields``: the mention columns to return, in that order (``None``:
    every column — ``MENTION_SCHEMA``, then ``CONFIDENCE_FIELDS`` with
    ``confidence``, then ``CLASSIFY_FIELDS`` with ``classify``). Only
    the requested columns cross the Arrow boundary; triple-only callers
    pass :data:`TRIPLE_FIELDS`. A name outside that full schema raises
    ``ValueError``.
    """
    full_schema = (MENTION_SCHEMA.fields
                   + (CONFIDENCE_FIELDS if confidence else [])
                   + (CLASSIFY_FIELDS if classify else []))
    by_name = {f.name: f for f in full_schema}
    if fields is None:
        fields = tuple(by_name)
    unknown = [f for f in fields if f not in by_name]
    if unknown:
        raise ValueError(
            f"annotate: unknown fields {unknown} (with classify={classify}, "
            f"confidence={confidence} the fields are {list(by_name)})")
    ship_package(pages.sparkSession)
    projected = pages.select(F.col(url_col).alias("url"),
                             F.col(text_col).alias("text"),
                             *[F.col(c) for c in extra_cols])
    extra_fields = [projected.schema[c] for c in extra_cols]
    projected = fan_out(projected, min_partitions)
    names = [f for f in fields if f != "url"]
    extractors = [_EXTRACT[f] for f in names]

    def run_batches(batches):
        from lexmapr_spark.matcher import process_sample
        lex = lex_bc.value
        # web corpora repeat page text heavily (boilerplate, mirrored
        # pages, crawl duplicates); every requested field except url is
        # a pure function of the text, so matching runs ONCE per
        # distinct text per partition and the memo keeps only the
        # requested values. Bounded: cleared past 200k entries so a
        # giant partition can't hoard worker memory.
        memo: dict = {}
        for pdf in batches:
            if len(memo) > 200_000:
                memo.clear()
            rows = []
            for t in pdf["text"]:
                # crawl tables contain null cells; a None must degrade
                # to an empty row, never kill the job
                t = t if t is not None else ""
                vals = memo.get(t)
                if vals is None:
                    r = process_sample("", t, lex, classify=classify)
                    vals = memo[t] = tuple(ex(r) for ex in extractors)
                rows.append(vals)
            cols = (dict(zip(names, map(list, zip(*rows)))) if rows
                    else dict.fromkeys(names, []))
            cols["url"] = pdf["url"].values
            frame = pd.DataFrame({f: cols[f] for f in fields},
                                 index=pdf.index)
            for c in extra_cols:
                frame[c] = pdf[c].values
            yield frame

    schema = StructType([by_name[f] for f in fields] + extra_fields)
    return projected.mapInPandas(run_batches, schema)


def triples_projection(mentions: DataFrame,
                       extra_cols: tuple = ()) -> DataFrame:
    """Mention rows -> raw (subj, pred, obj) triples (no dedup).

    Shared by the batch (``triples``) and streaming
    (``streaming.stream_triples``) emission paths so they can't drift.
    Uses the unmangled ``matched_pairs`` column — the display-form
    ``matched_components`` strings destroy IDs of labels containing
    ':' (a preserved reference quirk). Reads only
    :data:`TRIPLE_FIELDS` (plus ``extra_cols``).

    Mention rows with a NULL ``url`` emit nothing: their subject would
    be the bare label (``concat_ws`` skips NULL), shared by every such
    page.
    """
    return (
        mentions
        .where((F.col("macro_status") != "No Match")
               & F.col("url").isNotNull())
        .select(
            F.col("url"),
            F.col("macro_status"),
            F.explode("matched_pairs").alias("pair"),
            *[F.col(c) for c in extra_cols],
        )
        .select(
            F.concat_ws("#", F.col("url"), F.col("pair.label")).alias("subj"),
            F.element_at(F.create_map(
                [F.lit(x) for kv in _PRED.items() for x in kv]),
                F.col("macro_status")).alias("pred"),
            F.concat(F.lit(OBO_PREFIX), F.col("pair.term_id")).alias("obj"),
            *[F.col(c) for c in extra_cols],
        )
    )


def triples(mentions: DataFrame, salt_partitions: int | None = None,
            extra_cols: tuple = ()) -> DataFrame:
    """Wide mention rows -> deduplicated (subj, pred, obj) triples.

    ``dropDuplicates`` is an aggregate, so Spark applies a map-side
    partial dedup before the shuffle. For heavily skewed mention
    distributions pass ``salt_partitions`` to pre-spread hot subjects
    (head domains) before the dedup shuffle; AQE skew-join handling
    covers the rest.
    """
    t = triples_projection(mentions, extra_cols=extra_cols)
    if salt_partitions:
        t = t.repartition(salt_partitions, F.col("subj"))
    return t.dropDuplicates(["subj", "pred", "obj"])


def _wide_line(r, full: bool, bucket: bool) -> str:
    """One mention row as a wide-TSV line. ``r`` is a collected
    ``Row`` or an Arrow-batch tuple; ``p["token"]`` indexes both a
    struct ``Row`` and an Arrow struct dict."""
    bucket_cells = {}
    if bucket:
        bucket_cells = {
            "lexmapr_classification": r.lexmapr_classification,
            "lexmapr_bucket": r.lexmapr_bucket,
            "third_party_bucket": r.third_party_bucket,
            "ifsac_labels": r.ifsac_labels,
        }
    return "\t".join(format_wide_cells(
        r.url, r.sample_desc, r.processed_sample,
        r.processed_sample_sci_name, r.matched_components,
        r.macro_status,
        micro_status=r.micro_status if full else None,
        transformations=[(p["token"], p["lemma"])
                         for p in r.transformations] if full else None,
        full=full, bucket=bucket, **bucket_cells))


def render_wide_tsv(mentions_rows, full: bool = True,
                    bucket: bool = False) -> str:
    """Reference-format TSV text (pipeline.py:62-95,279-292): header,
    '\\n'-prefixed rows, Python-str() cells, trailing newline. Takes
    collected mention rows (order preserved by the caller). Driver-side
    — right for stdout-sized runs and golden parity; the scale path is
    :func:`write_wide_tsv`."""
    try:
        body = [_wide_line(r, full, bucket) for r in mentions_rows]
    except AttributeError as e:
        if not bucket:
            raise
        raise ValueError(
            "render_wide_tsv(bucket=True) needs mention rows from "
            "annotate(..., classify=True)") from e
    out = ["\t".join(wide_headers(full, bucket))] + body
    return "\n".join(out) + "\n"


def wide_lines(mentions: DataFrame, full: bool = True,
               bucket: bool = False, extra_cols: tuple = ()) -> DataFrame:
    """Worker-side wide-TSV rendering: one formatted ``line`` per
    mention row, byte-identical to :func:`render_wide_tsv` body rows.
    A narrow Arrow-batched map — no shuffle, no driver collect — so
    the reference's primary artifact (pipeline.py:279-291) renders at
    any scale. ``extra_cols`` ride along verbatim (e.g. a bucket id so
    the sink can partition the part files)."""
    ship_package(mentions.sparkSession)
    if bucket:
        need = {"lexmapr_classification", "lexmapr_bucket",
                "third_party_bucket", "ifsac_labels"}
        missing = need - set(mentions.columns)
        if missing:
            raise ValueError(
                "wide_lines(bucket=True) needs mentions from "
                f"annotate(..., classify=True); missing {sorted(missing)}")

    def fmt(batches):
        for pdf in batches:
            lines = [_wide_line(r, full, bucket)
                     for r in pdf.itertuples(index=False)]
            frame = pd.DataFrame({"line": lines})
            for c in extra_cols:
                frame[c] = pdf[c].values
            yield frame

    schema = StructType(
        [StructField("line", StringType())]
        + [mentions.schema[c] for c in extra_cols])
    return mentions.mapInPandas(fmt, schema)


def write_wide_tsv(mentions: DataFrame, path: str, full: bool = True,
                   bucket: bool = False, order_by: tuple | None = ("url",),
                   mode: str = "overwrite") -> None:
    """Distributed wide-output sink: every cell formatted worker-side
    (:func:`wide_lines`), written as text part files — no driver
    collect, so the wide table scales like the triple table. The
    header goes to ``<path>/_header.tsv`` (a sidecar, like Spark's own
    ``_SUCCESS``); with the default ``order_by`` the rows are
    range-sorted by (url, formatted line) — the formatted-line
    tiebreaker makes the sort total even when a url appears twice, so
    re-runs are byte-deterministic — and concatenating the header and
    the part files in name order yields the same ROWS as
    :func:`render_wide_tsv`, in url order (byte-identical to it when
    the input arrives url-sorted; pinned by test). Pass
    ``order_by=None`` to skip the sort shuffle when row order doesn't
    matter."""
    wl = wide_lines(mentions, full=full, bucket=bucket,
                    extra_cols=tuple(order_by) if order_by else ())
    if order_by:
        wl = wl.orderBy(*order_by, "line")
    wl.select("line").write.mode(mode).text(path)
    _write_text_file(mentions.sparkSession,
                     os.path.join(path, "_header.tsv"),
                     "\t".join(wide_headers(full, bucket)) + "\n")


def _write_text_file(spark, path: str, text: str) -> None:
    """Create a small text file through the Hadoop FileSystem API
    (works on any scheme the cluster can write, not just local disk)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def write_triples(trip: DataFrame, path: str,
                  partition_by: tuple = ("pred",),
                  mode: str = "overwrite") -> None:
    """Partitioned triple-table materialization.

    Partitioned parquet here; on a cluster with an Iceberg catalog the
    same plan is ``trip.writeTo(table).partitionedBy(*partition_by)``
    — this sandbox ships no Iceberg runtime jars, so parquet stands in
    (identical layout: one directory per partition value, prunable on
    read via partition filters)."""
    trip.write.mode(mode).partitionBy(*partition_by).parquet(path)


# ---------------------------------------------------------------------------
# Canonicalization: the synonym/alias graph and its components
# ---------------------------------------------------------------------------

def _alias_pairs(lex: Lexicon) -> list:
    """(src, dst) pairs of the variant graph.

    Edges connect ontology term ids whose standardized labels share a
    canonical token multiset (permutation variants) and term ids
    reachable from the same synonym string (SynLex).
    """
    edges = []
    # permutation variants: all ids sharing a canonical label key
    for cands in lex.canon_labels.values():
        ids = sorted(set(cands.values()))
        edges += [(ids[0], other) for other in ids[1:]]
    # synonym edges: synonym -> standardized label's id
    for syn, label in lex.synonyms.items():
        rid = lex.standard_resource_labels.get(label)
        syn_rid = lex.standard_resource_labels.get(syn)
        if rid and syn_rid and rid != syn_rid:
            edges.append((min(rid, syn_rid), max(rid, syn_rid)))
    return edges


def alias_edges(spark: SparkSession, lex: Lexicon) -> DataFrame:
    """Edge DataFrame (src, dst) of ``_alias_pairs``."""
    return spark.createDataFrame(_alias_pairs(lex),
                                 "src STRING, dst STRING").distinct()


def _component_minima(pairs) -> dict:
    """Union-find: node -> its component's minimum id, in Python ``str``
    (code-point) order, which is Spark's STRING order for UTF-8."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # every root is its comp's min
    return {n: find(n) for n in parent}


def alias_components(spark: SparkSession, lex: Lexicon) -> DataFrame:
    """(node, component) map for ``canonicalize``. The alias graph is
    lexicon-sized, so the driver labels it and no Spark job runs."""
    return spark.createDataFrame(
        list(_component_minima(_alias_pairs(lex)).items()),
        "node STRING, component STRING")


def connected_components(edges: DataFrame, max_iter: int = 20,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Min-label propagation with pointer doubling to a fixpoint:
    (node, component).

    Each round does (1) a neighbor-min step — every node takes the min
    of its own and its neighbors' labels (one hop of propagation) —
    and (2) a pointer-doubling step — every node re-labels to its
    label's label (``L(v) <- L(L(v))``, the path-halving trick from
    the published MapReduce CC algorithms: Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"). Doubling makes
    label depth collapse geometrically, so convergence is O(log
    diameter) rounds instead of O(diameter) — the difference between
    ~40 and ~10^6 shuffle rounds on a pathological chain in a
    data-derived dup/alias graph at 100x scale. Every step is a
    join + min-aggregate (no windows), so AQE handles skewed hub
    nodes, and each round is localCheckpoint'ed to truncate lineage.

    Label values are always existing node ids (mins over node ids), so
    the doubling join always finds its target. Hitting the ``max_iter``
    cap raises instead of silently returning split components.

    Durability: by default each round truncates lineage with
    ``localCheckpoint`` — executor-local blocks, fast, but NOT
    fault-tolerant: on a 100 TB dup graph, losing one executor late in
    the loop loses blocks that no lineage can rebuild and kills the
    job. Pass ``checkpoint_dir`` (HDFS/S3/... path) for the production
    form: the symmetrized edge set, the star-contraction map
    (``starmap``), the contracted edge set, and each round's labels
    are written to reliable storage as parquet and read back, so the
    loop survives executor loss and each round's convergence check
    scans the WRITTEN round (two small parquet scans — no lineage
    re-execution, no extra materialization action beyond the write
    itself). The raw symmetrized edges are reclaimed as soon as the
    contracted set is durable; older round files are deleted as the
    loop advances; the final round's parquet plus ``starmap`` back the
    returned DataFrame, so callers can keep consuming it after the
    session recycles executors.

    Each call writes under its own ``run=K`` subdirectory (K = 1 +
    the highest existing run id), so a rerun over the same dir never
    rewrites the paths backing an earlier call's returned DataFrame
    (r6 ADVICE: entry-time deletion of shared ``round=*`` dirs made
    prior results silently unreadable). Disk stays bounded: at entry,
    runs older than the immediately previous one are deleted outright,
    and the previous run keeps only its final ``round=*`` labels plus
    ``starmap`` (the parquets backing its returned frame; any leftover
    edge parquets are reclaimed). So the labels returned
    by the LAST completed run stay readable across exactly one rerun;
    persist them (write out or ``.cache()``) if you need them to
    survive further reruns, or use a fresh dir per call.
    """
    spark = edges.sparkSession
    run_dir = checkpoint_dir
    if checkpoint_dir is not None:
        fs, hdir = _hadoop_fs(spark, checkpoint_dir)
        prior_runs: list[int] = []
        if fs.exists(hdir):
            for st in fs.listStatus(hdir):
                name = st.getPath().getName()
                if name.startswith("run="):
                    try:
                        prior_runs.append(int(name[4:]))
                    except ValueError:
                        pass
                elif (name.startswith("round=")
                      or name in ("edges", "edges_contracted", "starmap")):
                    # pre-run-id layout left by an older engine
                    # version: stale, reclaim
                    fs.delete(st.getPath(), True)
        run_id = max(prior_runs) + 1 if prior_runs else 0
        for k in prior_runs:
            if k != max(prior_runs):
                _delete_path(spark, f"{checkpoint_dir}/run={k}")
        if prior_runs:
            # previous run: keep only its final labels readable,
            # reclaim its edges and any non-final rounds
            prev = f"{checkpoint_dir}/run={max(prior_runs)}"
            pfs, pdir = _hadoop_fs(spark, prev)
            if pfs.exists(pdir):
                rounds = []
                for st in pfs.listStatus(pdir):
                    name = st.getPath().getName()
                    if name.startswith("round="):
                        try:
                            rounds.append(int(name[6:]))
                        except ValueError:
                            pass
                    elif name in ("edges", "edges_contracted"):
                        # the previous run's returned labels need only
                        # its final round= parquet plus starmap (the
                        # node -> rep mapping the returned frame joins
                        # through); edge parquets are loop-only
                        pfs.delete(st.getPath(), True)
                for r in rounds:
                    if r != max(rounds):
                        _delete_path(spark, f"{prev}/round={r}")
        run_dir = f"{checkpoint_dir}/run={run_id}"
    # materialize the ONE-SIDED edge list once: everything below joins
    # or aggregates against it, and for data-derived graphs its lineage
    # is the whole upstream pipeline (e.g. LSH banding + Jaccard
    # verification) — without this the pair discovery would re-execute
    # per consumer. One-sided on purpose: symmetrization happens only
    # (a) inside a map-side-combinable min aggregate and (b) on the
    # tiny contracted set, so the big 2x row doubling is never
    # materialized or shuffled.
    e1 = edges.select("src", "dst")
    if checkpoint_dir is not None:
        e1.write.mode("overwrite").parquet(f"{run_dir}/edges")
        e1 = spark.read.parquet(f"{run_dir}/edges")
    else:
        # lazy (r9): the first consumer's job materializes the blocks;
        # eager=True added one BLOCKING driver job per checkpoint (4+
        # serialized jobs per call measured as pure overhead on small
        # dup graphs) with no extra reuse — every later reference
        # still reads the same stored blocks
        e1 = e1.localCheckpoint(eager=False)
    # --- star contraction (r7): collapse every node onto the min of
    # its closed neighborhood (rep(v) = min(v, min(neighbors(v))) —
    # one groupBy over both edge directions) and run the loop on the
    # quotient graph. Each contraction class {v : rep(v)=u} + {u} is a
    # star, i.e. connected in the original graph, so quotienting
    # preserves component structure EXACTLY, and because rep(v) <= v
    # the component minimum — the label this function returns — is
    # unchanged. Dedup graphs are clique-heavy (a k-clone group emits
    # k*(k-1)/2 verified pairs) and a clique collapses to its min node
    # with ZERO surviving edges, so the per-round neighbor-min joins
    # run over the few inter-star edges instead of the full verified
    # pair set. Chains merely halve, and the doubling loop below still
    # guarantees O(log diameter) rounds for them.
    stack = e1.select(F.col("src").alias("node"),
                      F.col("dst").alias("nbr")) \
        .union(e1.select(F.col("dst").alias("node"),
                         F.col("src").alias("nbr")))
    star = (stack.groupBy("node").agg(F.min("nbr").alias("_nmin"))
            .select("node",
                    F.least(F.col("node"), F.col("_nmin")).alias("rep")))
    if checkpoint_dir is not None:
        star.write.mode("overwrite").parquet(f"{run_dir}/starmap")
        star = spark.read.parquet(f"{run_dir}/starmap")
    else:
        star = star.localCheckpoint(eager=False)
    # relabel the ONE-SIDED pairs (half the join volume of a
    # symmetrized relabel), dedup the tiny surviving set, THEN
    # symmetrize it for the neighbor-min loop
    ce = (
        e1
        .join(star.select(F.col("node").alias("src"),
                          F.col("rep").alias("_rsrc")), "src")
        .join(star.select(F.col("node").alias("dst"),
                          F.col("rep").alias("_rdst")), "dst")
        .where(F.col("_rsrc") != F.col("_rdst"))
        .select(F.least("_rsrc", "_rdst").alias("src"),
                F.greatest("_rsrc", "_rdst").alias("dst"))
        .distinct()
    )
    csym = ce.union(ce.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst")))
    if checkpoint_dir is not None:
        csym.write.mode("overwrite").parquet(f"{run_dir}/edges_contracted")
        csym = spark.read.parquet(f"{run_dir}/edges_contracted")
        # the big raw edge parquet has served its purpose (starmap +
        # contracted edges are durable); reclaim it now rather than at
        # the next run
        _delete_path(spark, f"{run_dir}/edges")
    else:
        csym = csym.localCheckpoint(eager=False)
    sym = csym
    labels = (
        sym.select("src").union(sym.select("dst"))
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("component"))
    )
    for rnd in range(max_iter):
        # candidate: min over own label and neighbors' labels
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src").agg(F.min("component").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("component"),
                        F.coalesce(F.col("nmin"), F.col("component"))
                        ).alias("component"),
            )
        )
        # pointer doubling: component <- component's component (labels
        # only ever decrease, so least() is just a safety clamp)
        ptr = stepped.select(F.col("node").alias("pnode"),
                             F.col("component").alias("pcomp"))
        new_labels = (
            stepped.join(ptr, stepped.component == ptr.pnode, "left")
            .select(
                "node",
                F.least(F.col("component"),
                        F.coalesce(F.col("pcomp"), F.col("component"))
                        ).alias("component"),
            )
        )
        if checkpoint_dir is not None:
            path = f"{run_dir}/round={rnd}"
            new_labels.write.mode("overwrite").parquet(path)
            new_labels = spark.read.parquet(path)
        else:
            # materialized by the convergence count just below
            new_labels = new_labels.localCheckpoint(eager=False)
        # convergence check over materialized rounds only: with a
        # checkpoint_dir both sides are parquet scans of what was just
        # written — nothing upstream re-executes
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1).count()
        )
        labels = new_labels
        if checkpoint_dir is not None and rnd > 0:
            _delete_path(spark, f"{run_dir}/round={rnd - 1}")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations (component diameter exceeds the cap); raise "
            "max_iter")
    # map every original node back through its contraction rep; a rep
    # whose whole neighborhood collapsed into it (a pure clique) has
    # no contracted edges and thus no loop row — its component is
    # itself. Both sides of this join are durable when checkpoint_dir
    # is set (starmap + the final round's parquet), preserving the
    # consume-after-rerun contract.
    return (
        star.join(labels, star.rep == labels.node, "left")
        .select(star.node.alias("node"),
                F.coalesce(labels.component, star.rep).alias("component"))
    )


def canonicalize(trip: DataFrame, components: DataFrame,
                 keep_cols: tuple = ()) -> DataFrame:
    """Rewrite triple objects onto canonical (component-min) term IRIs.

    Broadcast join: the component map is lexicon-sized. Unmatched
    objects pass through unchanged. ``keep_cols`` ride along (e.g. the
    checkpoint bucket id).
    """
    mapping = components.select(
        F.concat(F.lit(OBO_PREFIX), F.upper("node")).alias("obj"),
        F.concat(F.lit(OBO_PREFIX), F.upper("component")).alias("canon_obj"),
    )
    return (
        trip.join(F.broadcast(mapping), "obj", "left")
        .select("subj", "pred",
                F.coalesce("canon_obj", "obj").alias("obj"),
                *[F.col(c) for c in keep_cols])
        .dropDuplicates(["subj", "pred", "obj"])
    )


# ---------------------------------------------------------------------------
# Checkpointed, resumable sink
# ---------------------------------------------------------------------------

def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _delete_path(spark, path: str) -> None:
    """Recursively delete a storage path through the Hadoop FileSystem
    API, so it works on any scheme the cluster can write (local, HDFS,
    object stores), not just the driver's local disk."""
    fs, hpath = _hadoop_fs(spark, path)
    fs.delete(hpath, True)


def _path_exists(spark, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def run_with_checkpoint(pages: DataFrame, lex_bc, out_dir: str,
                        n_buckets: int = 32, canonical: bool = False,
                        manifest_chunks: int = 1) -> dict:
    """End-to-end run with per-bucket lineage + resume: writes
    ``out_dir/triples/bucket=<b>`` straight from :func:`annotate`, one
    job with one input scan per chunk (optionally canonicalized).
    Buckets, manifest and the resume contract: :func:`_bucketed_run`.
    """
    return _bucketed_run(pages, lex_bc, out_dir, "run_with_checkpoint",
                         n_buckets, canonical, manifest_chunks)


def run_full_artifacts(pages: DataFrame, lex_bc, out_dir: str,
                       n_buckets: int = 32, full: bool = True,
                       classify: bool = True, canonical: bool = False,
                       manifest_chunks: int = 1,
                       wide_files_per_bucket: int | None = None) -> dict:
    """Production run emitting EVERY user-facing artifact from ONE
    pass over the input, bucket-resumable like
    :func:`run_with_checkpoint`:

    * ``out_dir/mentions/bucket=<b>`` — the wide mention table
      (parquet). This is the durable intermediate: the input is
      scanned exactly once, through the expensive Arrow matching
      stage, to land it.
    * ``out_dir/triples/bucket=<b>`` — derived by RE-READING the
      stored mentions (a much smaller, column-pruned scan), not the
      input; optionally canonicalized.
    * ``out_dir/wide/bucket=<b>`` — the reference's wide TSV as text
      part files (cells formatted worker-side via :func:`wide_lines`),
      plus ``out_dir/wide/_header.tsv``. A bucket's bytes are
      deterministic across runs and resumes, so
      ``cat _header.tsv bucket=*/part-*`` is a stable artifact.

    ``wide_files_per_bucket`` bounds per-task volume in the wide sink:
    each bucket's rows split into that many deterministic url-hash
    sub-slices, each sorted and written independently, so a bucket is
    never forced through ONE task (at 100 TB with 32 buckets,
    one-task-per-bucket would mean a ~3 TB single-task sort). Default:
    the value recorded by the run being resumed, else
    ``spark.sql.shuffle.partitions / n_buckets`` (min 1) — per-task
    volume then tracks the session's configured parallelism instead of
    the bucket count. The resolved value is part of the run fingerprint,
    so a resume under a different session config still writes the
    original run's part-file split. With the value 1 each bucket is one
    part file in url order (the strongest ordering guarantee); with
    k > 1 each part file is internally url-sorted and bucket bytes
    remain deterministic, but the concatenation is sub-slice order, not
    global url order.

    A bucket is manifested only after all three artifacts for it are
    durable; the resume contract is :func:`_bucketed_run`'s.
    """
    return _bucketed_run(pages, lex_bc, out_dir, "run_full_artifacts",
                         n_buckets, canonical, manifest_chunks,
                         classify=classify, full=full,
                         wide_fpb=wide_files_per_bucket)


def _session_parallelism(spark) -> int:
    """The session's configured shuffle parallelism (falls back to the
    cluster's default parallelism when the conf is non-numeric; any
    other error reading the conf propagates)."""
    value = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(value)
    except ValueError:
        return spark.sparkContext.defaultParallelism


# Version 1 manifests (rows without a fingerprint) are refused.
MANIFEST_VERSION = 2
# the manifest columns a resume must match
_FINGERPRINT = ("manifest_version", "driver", "n_buckets", "classify",
                "full", "canonical", "wide_fpb", "lexicon_sha256")
_MANIFEST_ROW = ("pages BIGINT, triples BIGINT, manifest_version INT, "
                 "driver STRING, n_buckets INT, classify BOOLEAN, "
                 "full BOOLEAN, canonical BOOLEAN, wide_fpb INT, "
                 "lexicon_sha256 STRING, bucket INT")
_TRIPLE_SCHEMA = "subj STRING, pred STRING, obj STRING, bucket INT"


def _bucketed_run(pages, lex_bc, out_dir, driver, n_buckets, canonical,
                  manifest_chunks, classify=False, full=False,
                  wide_fpb=None) -> dict:
    """The bucketed, resumable run behind :func:`run_with_checkpoint`
    and :func:`run_full_artifacts` (``driver`` names which).

    Pages are split into ``n_buckets`` deterministic url-hash buckets
    (``xxhash64(url) % n_buckets``). A job filters the input to the
    not-yet-done buckets (one scan, not one per bucket), annotates with
    the bucket id carried through the Arrow stage, and writes
    ``out_dir/<artifact>/bucket=<b>`` via dynamic partition overwrite,
    so completed buckets from a previous run are untouched and
    re-running a bucket is idempotent. Per-bucket counts (pages in,
    triples out) come from ``observe()`` nodes inside the same job.

    Resume contract:

    * Fingerprint. Every manifest row ``out_dir/manifest/bucket=<b>``
      records the run fingerprint — manifest version, driver,
      ``n_buckets``, ``classify``/``full``/``canonical``, the resolved
      ``wide_fpb`` and the lexicon's :meth:`Lexicon.content_hash` —
      next to its pages and triples. The done buckets and their
      fingerprints come from one read of the manifest.
    * Refusal. A resume whose fingerprint differs from the stored one
      raises ``ValueError`` naming the fields, before anything is
      written: a different bucket count, mode or lexicon would mix two
      runs' outputs in one directory. A manifest without a fingerprint
      (written by an older engine) is refused too; use a fresh
      ``out_dir``.
    * Chunk durability. A chunk's manifest rows land in one write
      (one part file per ``manifest/bucket=<b>``) only after all of the
      chunk's artifacts are durable, so a kill never marks an
      unfinished bucket done. With ``manifest_chunks=1`` all todo
      buckets run as one job and a mid-run kill records no progress
      (the todo set reruns on restart); ``manifest_chunks > 1`` trades
      one input scan per chunk for intra-run durability, so a crash
      loses only the chunk in flight.
    * Empty buckets. Dynamic overwrite only replaces partitions present
      in the output, so a bucket with no rows for an artifact would keep
      any stale partial files a crashed run left there; they are deleted
      before its manifest row is written.
    """
    spark = pages.sparkSession
    manifest_dir = os.path.join(out_dir, "manifest")
    rows = (spark.read.schema(_MANIFEST_ROW)
            .parquet(manifest_dir).collect()
            if _path_exists(spark, manifest_dir) else [])
    if any(r.manifest_version is None for r in rows):
        raise ValueError(
            f"{manifest_dir} has rows without a run fingerprint (written "
            "by an older engine version); write into a fresh out_dir")
    if driver == "run_full_artifacts" and wide_fpb is None:
        wide_fpb = (rows[0].wide_fpb if rows else
                    max(1, _session_parallelism(spark) // max(n_buckets, 1)))
    fp = {"manifest_version": MANIFEST_VERSION, "driver": driver,
          "n_buckets": n_buckets, "classify": bool(classify),
          "full": bool(full), "canonical": bool(canonical),
          "wide_fpb": wide_fpb,
          "lexicon_sha256": lex_bc.value.content_hash()}
    stored = {k: sorted({r[k] for r in rows} - {fp[k]}, key=repr)
              for k in _FINGERPRINT}
    diff = {k: v for k, v in stored.items() if v}
    if diff:
        raise ValueError(
            f"refusing to resume into {out_dir}: its run fingerprint "
            "differs in " + "; ".join(f"{k} (stored {v}, now {fp[k]!r})"
                                      for k, v in diff.items())
            + " — resume with the same n_buckets, modes and lexicon, or "
            "write into a fresh out_dir")

    if driver == "run_full_artifacts":
        # the header is input-independent; writing it before any chunk
        # (and on every resume) means a crash between the last bucket's
        # manifest and run end can never leave the documented
        # `cat _header.tsv bucket=*/part-*` artifact permanently headerless
        _write_text_file(spark, os.path.join(out_dir, "wide", "_header.tsv"),
                         "\t".join(wide_headers(full, classify)) + "\n")
    done = {r.bucket for r in rows}
    todo = [b for b in range(n_buckets) if b not in done]
    stats = {"buckets_total": n_buckets, "buckets_skipped": len(done),
             "pages": 0, "triples": 0, "recounted": 0}
    if not todo:
        return stats

    # lexicon-derived mapping: one driver-side map covers every chunk
    comps = alias_components(spark, lex_bc.value) if canonical else None
    n_chunks = max(1, min(int(manifest_chunks), len(todo)))
    size = -(-len(todo) // n_chunks)
    for i in range(0, len(todo), size):
        _bucketed_job(pages, lex_bc, out_dir, fp, todo[i:i + size], comps,
                      stats)
    return stats


def _write_buckets(df: DataFrame):
    """Writer that replaces only the ``bucket=<b>`` partitions present
    in ``df``."""
    return (df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic").partitionBy("bucket"))


def _bucketed_job(pages, lex_bc, out_dir, fp, buckets, comps, stats) -> None:
    """One single-pass job over ``buckets``: annotate, write the
    driver's artifacts, then write the chunk's manifest rows."""
    import uuid

    from pyspark.sql import Observation

    spark = pages.sparkSession
    n_buckets, classify = fp["n_buckets"], fp["classify"]
    artifacts = fp["driver"] == "run_full_artifacts"
    dirs = {a: os.path.join(out_dir, a)
            for a in ("manifest", "mentions", "triples", "wide")}
    in_chunk = F.col("bucket").isin(*buckets)

    def observed(df, what):
        obs = Observation(f"{what}_per_bucket_{uuid.uuid4().hex[:8]}")
        return df.observe(obs, *[
            F.count(F.when(F.col("bucket") == b, 1)).alias(f"b{b}")
            for b in buckets]), obs

    bucketed = pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))
    if len(buckets) < n_buckets:
        bucketed = bucketed.where(in_chunk)
    observed_pages, pages_obs = observed(bucketed, "pages")

    # THE input pass: scan -> Arrow matching stage; only the triple
    # columns cross it unless the full mentions are landed
    mentions = annotate(observed_pages, lex_bc, classify=classify,
                        extra_cols=("bucket",),
                        fields=None if artifacts else TRIPLE_FIELDS)
    if artifacts:
        # land the mentions, then derive the other artifacts from the
        # STORED mentions — re-reads the small intermediate, never the
        # input
        _write_buckets(mentions).parquet(dirs["mentions"])
        mentions = spark.read.parquet(dirs["mentions"]).where(in_chunk)
    t = triples(mentions, extra_cols=("bucket",))
    if comps is not None:
        t = canonicalize(t, comps, keep_cols=("bucket",))
    t, triples_obs = observed(t, "triples")
    _write_buckets(t).parquet(dirs["triples"])

    if artifacts:
        # deterministic bytes per bucket WITHOUT one-task-per-bucket:
        # each bucket splits into wide_fpb url-hash sub-slices,
        # hash-repartitioned on (bucket, sub) and sorted within tasks.
        # The task count is n_buckets * fpb — constant regardless of
        # which buckets this (possibly resumed) job covers — so the
        # (bucket, sub) -> task mapping, and therefore every part file's
        # contents, is identical across full runs and per-bucket
        # resumes. The text sink's required ordering is just the
        # partition column, which the sort prefixes — no extra sort is
        # inserted. "line" as the final tiebreaker makes the sort total
        # even when a url appears twice (crawl duplicates) — required
        # for the byte-identical re-run guarantee. With fpb == 1 this
        # degenerates to one url-sorted part file per bucket.
        fpb = max(1, int(fp["wide_fpb"]))
        wl = wide_lines(mentions, full=fp["full"], bucket=classify,
                        extra_cols=("bucket", "url"))
        # salt the sub-slice hash: the bucket id is ALSO
        # xxhash64(url) % n_buckets, so an unsalted xxhash64(url) %
        # fpb is fully correlated with it (identical when fpb ==
        # n_buckets — every bucket would collapse to one sub-slice)
        wl = (wl.withColumn("_sub",
                            F.pmod(F.xxhash64(F.lit("sub"), F.col("url")),
                                   F.lit(fpb)).cast("int"))
                .repartition(n_buckets * fpb, "bucket", "_sub")
                # sort by url directly, NOT by _sub first: two
                # sub-slices of one bucket can hash-collide into the
                # same task, and a (_sub, url) sort would leave that
                # part file url-sorted only per slice — sorting the
                # task's whole row set by url keeps EVERY part file
                # internally url-sorted (and deterministic) no matter
                # how slices collide
                .sortWithinPartitions("bucket", "url", "line"))
        _write_buckets(wl.select("line", "bucket")).text(dirs["wide"])

    page_counts = _bucket_counts(pages_obs, "pages", buckets,
                                 lambda: bucketed, stats)
    triple_counts = _bucket_counts(
        triples_obs, "triples", buckets,
        lambda: (spark.read.schema(_TRIPLE_SCHEMA).parquet(dirs["triples"])
                 .where(in_chunk)
                 if _path_exists(spark, dirs["triples"]) else None), stats)
    manifest = []
    for b in buckets:
        n_pages = int(page_counts[f"b{b}"])
        n_triples = int(triple_counts[f"b{b}"])
        stale = ((["mentions", "wide"] if artifacts and n_pages == 0 else [])
                 + (["triples"] if n_triples == 0 else []))
        for a in stale:
            _delete_path(spark, os.path.join(dirs[a], f"bucket={b}"))
        manifest.append((n_pages, n_triples, *(fp[k] for k in _FINGERPRINT), b))
        stats["pages"] += n_pages
        stats["triples"] += n_triples
    # one write lands the whole chunk's rows, so the job count does not
    # grow with the bucket count; one part file per manifest/bucket=<b>
    _write_buckets(_manifest_frame(spark, manifest)).parquet(dirs["manifest"])


def _manifest_frame(spark: SparkSession, rows: list) -> DataFrame:
    """Manifest ``rows`` (tuples in ``_MANIFEST_ROW`` order) as one
    partition. A pandas frame goes over Arrow to a local table scan:
    no Python tasks and no shuffle, which a list of rows would cost (a
    PythonRDD plus a repartition)."""
    frame = pd.DataFrame(rows, columns=[
        col.split()[0] for col in _MANIFEST_ROW.split(", ")])
    return spark.createDataFrame(frame, _MANIFEST_ROW).coalesce(1)


def _bucket_counts(obs, what, buckets, recount, stats) -> dict:
    """``{"b<b>": n}`` from a per-bucket ``observe()`` node. When the
    whole output is empty, AQE's empty-relation propagation replans
    the query and drops the node's metrics; then the counts are
    recomputed with one small aggregation over ``recount()`` (zeros
    when it returns None: nothing was written), a warning is logged
    and ``stats["recounted"]`` goes up by one — never guessed
    silently."""
    from py4j.protocol import Py4JJavaError

    try:
        got = obs.get
    except Py4JJavaError:
        got = None
    if got:
        return got
    _log.warning("per-bucket %s observation has no metrics; recounting "
                 "buckets %s", what, buckets)
    stats["recounted"] += 1
    df = recount()
    n = ({r.bucket: r.n for r in
          df.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
         if df is not None else {})
    return {f"b{b}": n.get(b, 0) for b in buckets}
