"""Spark end-to-end tests: pages -> annotate -> triples -> canonicalize
-> checkpointed sink, plus plan-shape assertions (column pruning, no
shuffle on the annotate path)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from lexmapr_spark import engine
from lexmapr_spark.lexicon import Lexicon, default_lexicon
from lexmapr_spark.pages import extract_text, load_corpus, synth_pages
from tests.golden_harness import (
    GOLDEN_FULL_CASES,
    expected_rows,
    read_samples,
    triples_from_rows,
)


@pytest.fixture(scope="module")
def spark():
    s = engine.build_spark(cpus=4, app="lexmapr_spark_tests",
                           shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def lex_bc(spark):
    return engine.broadcast_lexicon(spark)


def golden_pages(spark):
    """Pages whose texts are the golden fixtures' descriptions and
    whose urls are the fixture sample ids (namespaced per case)."""
    rows = []
    for case, input_name in GOLDEN_FULL_CASES.items():
        for sid, desc in read_samples(input_name):
            rows.append((case + "/" + sid, desc))
    return spark.createDataFrame(rows, "url STRING, text STRING")


def test_extraction_byte_identical(spark):
    pages = synth_pages(spark, 500, corpus=load_corpus(limit=200))
    bad = extract_text(pages).where(
        F.col("extracted_text") != F.col("text")).count()
    assert bad == 0


def test_synth_pages_deterministic_and_skewed(spark):
    a = synth_pages(spark, 1000).select("url").collect()
    b = synth_pages(spark, 1000).select("url").collect()
    assert a == b
    domains = (
        synth_pages(spark, 2000)
        .select(F.regexp_extract("url", r"host(\d+)", 1).alias("d"))
        .groupBy("d").count().orderBy(F.desc("count")).limit(1).collect()
    )
    # Zipf head domain should own a clearly-super-uniform share
    assert domains[0]["count"] > 2000 / 100


def test_engine_matches_golden_triples(spark, lex_bc):
    """The north-rule P/R gate, through the distributed engine."""
    mentions = engine.annotate(golden_pages(spark), lex_bc).collect()
    got = set()
    for r in mentions:
        pred = {"Full Term Match": "fullTermMatch",
                "Component Match": "componentMatch"}.get(r.macro_status)
        for comp in r.matched_components:
            label, _, term_id = comp.rpartition(":")
            got.add((r.url + "#" + label, pred,
                     engine.OBO_PREFIX + term_id))
    want = set()
    for case, _ in GOLDEN_FULL_CASES.items():
        _, rows = expected_rows(case)
        for (s, p, o) in triples_from_rows(rows):
            want.add((case + "/" + s, p, o))
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    assert precision == 1.0 and recall == 1.0, (precision, recall)


def test_triples_dataframe_shape(spark, lex_bc):
    t = engine.triples(engine.annotate(golden_pages(spark), lex_bc))
    assert t.columns == ["subj", "pred", "obj"]
    rows = t.collect()
    assert len(rows) == len(set(rows)) > 0
    assert all(r.obj.startswith(engine.OBO_PREFIX) for r in rows)
    assert set(r.pred for r in rows) <= {"fullTermMatch", "componentMatch"}


def test_annotate_path_has_no_shuffle(spark, lex_bc):
    plan = engine.annotate(
        golden_pages(spark), lex_bc,
        min_partitions=None)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow end-to-end when not fanning out


def test_annotate_auto_fanout_small_input(spark, lex_bc):
    one_part = golden_pages(spark).coalesce(1)
    fanned = engine.annotate(one_part, lex_bc)
    assert fanned.rdd.getNumPartitions() >= \
        spark.sparkContext.defaultParallelism


def test_column_pruning_reaches_scan(spark, lex_bc, tmp_path):
    p = str(tmp_path / "pages_parquet")
    synth_pages(spark, 100, corpus=load_corpus(limit=50)).write.parquet(p)
    scan = spark.read.parquet(p)
    plan = engine.annotate(
        scan, lex_bc)._jdf.queryExecution().executedPlan().toString()
    # html/warc_ts must NOT be read for the annotate path
    assert "html" not in plan.split("ReadSchema")[-1]


def test_spark_wide_output_byte_exact_vs_reference(spark, lex_bc):
    """The distributed engine reproduces the reference's golden TSVs
    byte-for-byte (not just triple P/R): annotate in Spark, render the
    reference TSV format, compare whole files."""
    import os

    from tests.golden_harness import (
        EXPECTED_DIR,
        GOLDEN_FULL_CASES,
        read_samples,
    )

    for case, input_name in GOLDEN_FULL_CASES.items():
        rows = list(read_samples(input_name))
        if not rows:  # header-only goldens (empty inputs)
            collected = []
        else:
            df = spark.createDataFrame(rows, "url STRING, text STRING") \
                .coalesce(1)
            collected = engine.annotate(
                df, lex_bc, min_partitions=None).collect()
        # order preserved: single partition, no shuffle
        rendered = engine.render_wide_tsv(collected, full=True)
        with open(os.path.join(EXPECTED_DIR, case + ".tsv")) as f:
            expected = f.read()
        assert rendered == expected, f"byte mismatch in {case}"


def test_partitioned_triple_write_prunes(spark, lex_bc, tmp_path):
    out = str(tmp_path / "triples_partitioned")
    t = engine.triples(engine.annotate(golden_pages(spark), lex_bc))
    engine.write_triples(t, out)
    back = spark.read.parquet(out)
    assert back.count() == t.count()
    # partition pruning: a pred filter must prune to matching dirs only
    plan = back.where(F.col("pred") == "fullTermMatch") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pred" in plan.split(
        "PartitionFilters: [")[1].split("]")[0]


def test_results_independent_of_partitioning(spark, lex_bc):
    """SURVEY hard-part #2: the order-dependent greedy algorithms are
    per-row, so results must be identical however rows are split."""
    pages = golden_pages(spark)
    one = set(map(tuple, engine.annotate(
        pages.coalesce(1), lex_bc, min_partitions=None)
        .select("url", "macro_status", "processed_sample").collect()))
    eight = set(map(tuple, engine.annotate(
        pages.repartition(8), lex_bc, min_partitions=None)
        .select("url", "macro_status", "processed_sample").collect()))
    assert one == eight


def test_salted_triples_equal_unsalted(spark, lex_bc):
    """Skew mitigation must not change results: salted pre-spread
    before the dedup shuffle yields the identical triple set."""
    mentions = engine.annotate(golden_pages(spark), lex_bc)
    plain = set(map(tuple, engine.triples(mentions).collect()))
    salted = set(map(tuple, engine.triples(mentions,
                                           salt_partitions=16).collect()))
    assert plain == salted and len(plain) > 0


def test_lang_filter_pushdown_reaches_scan(spark, lex_bc, tmp_path):
    p = str(tmp_path / "pages_pushdown")
    synth_pages(spark, 200, corpus=load_corpus(limit=50)).write.parquet(p)
    scan = spark.read.parquet(p).where(F.col("lang") == "en")
    plan = engine.annotate(
        scan, lex_bc)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "lang" in pushed  # the lang predicate reached the parquet scan


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "src STRING, dst STRING")
    comps = {r.node: r.component
             for r in engine.connected_components(edges).collect()}
    assert comps == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_long_path_converges_in_log_rounds(spark):
    """A 300-node path graph converges within 15 rounds — impossible
    for one-hop-per-round min propagation (O(diameter) would need
    299) — proving the pointer-doubling step gives O(log n) rounds on
    exactly the pathological chains a data-derived dup/alias graph
    can contain at scale."""
    n = 300
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n - 1)],
        "src STRING, dst STRING")
    comps = {r.node: r.component
             for r in engine.connected_components(
                 edges, max_iter=15).collect()}
    assert len(comps) == n
    assert set(comps.values()) == {"n0000"}


def test_connected_components_matches_union_find_randomized(spark):
    """Randomized differential vs a driver-side union-find: same
    partition into components, representative = min node label."""
    import random

    rng = random.Random(7)
    for trial in range(2):
        n = 80
        edges = list({(f"n{rng.randrange(n):03d}",
                       f"n{rng.randrange(n):03d}")
                      for _ in range(60)})
        edges = [e for e in edges if e[0] != e[1]]
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        groups = {}
        for a, b in edges:
            groups.setdefault(find(a), set()).update((a, b))
        expected = {}
        for members in groups.values():
            rep = min(members)
            for m in members:
                expected[m] = rep
        comps = {r.node: r.component
                 for r in engine.connected_components(
                     spark.createDataFrame(
                         edges, "src STRING, dst STRING")).collect()}
        assert comps == expected, f"trial {trial}"
        assert engine._component_minima(edges) == expected, f"trial {trial}"


def test_connected_components_durable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir= is the fault-tolerant production path: each
    round's labels land in reliable storage as parquet instead of
    executor-local blocks. Labels must equal the default path's, only
    the FINAL round's parquet may remain (older rounds are reclaimed as
    the loop advances), and the returned DataFrame must be readable
    straight off the written files (fresh read, no live lineage)."""
    import os

    n = 40  # path graph -> multiple rounds
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)],
        "src STRING, dst STRING")
    ckpt = str(tmp_path / "cc_ckpt")
    durable = engine.connected_components(edges, checkpoint_dir=ckpt)
    got = {r.node: r.component for r in durable.collect()}
    ref = {r.node: r.component
           for r in engine.connected_components(edges).collect()}
    assert got == ref and set(got.values()) == {"n000"}

    run0 = os.path.join(ckpt, "run=0")
    round_dirs = sorted(d for d in os.listdir(run0)
                        if d.startswith("round="))
    assert len(round_dirs) == 1  # only the last round survives
    # r7 layout: the raw symmetrized edges are reclaimed as soon as
    # the star-contraction map + contracted edges are durable
    assert not os.path.exists(os.path.join(run0, "edges"))
    assert os.path.isdir(os.path.join(run0, "starmap"))
    assert os.path.isdir(os.path.join(run0, "edges_contracted"))
    # the returned frame is parquet-backed: a brand-new reader over
    # starmap + the surviving round reproduces it exactly (what a
    # resume would do) — node -> rep -> component, reps without a loop
    # row are their own component
    star = {r.node: r.rep
            for r in spark.read.parquet(
                os.path.join(run0, "starmap")).collect()}
    comp = {r.node: r.component
            for r in spark.read.parquet(
                os.path.join(run0, round_dirs[0])).collect()}
    reread = {n: comp.get(rep, rep) for n, rep in star.items()}
    assert reread == got
    # r6 ADVICE: a rerun over the same dir writes under its own run=K
    # subdir, so the EARLIER call's returned labels stay readable —
    # while the earlier run's bulky edges parquet is reclaimed and
    # only its final round kept
    tiny = spark.createDataFrame([("a", "b")], "src STRING, dst STRING")
    rerun = engine.connected_components(tiny, checkpoint_dir=ckpt)
    assert {r.node: r.component for r in rerun.collect()} == \
        {"a": "a", "b": "a"}
    assert {r.node: r.component for r in durable.collect()} == got
    assert not os.path.exists(os.path.join(run0, "edges"))
    assert not os.path.exists(os.path.join(run0, "edges_contracted"))
    assert os.path.isdir(os.path.join(run0, "starmap"))  # backs `durable`
    assert sorted(d for d in os.listdir(run0)
                  if d.startswith("round=")) == round_dirs
    run1 = os.path.join(ckpt, "run=1")
    left = sorted(d for d in os.listdir(run1) if d.startswith("round="))
    assert len(left) == 1, left
    # a THIRD run deletes run=0 outright (disk stays bounded: at most
    # the previous run's final labels plus the live run remain)
    third = engine.connected_components(tiny, checkpoint_dir=ckpt)
    assert {r.node: r.component for r in third.collect()} == \
        {"a": "a", "b": "a"}
    assert not os.path.exists(run0)
    assert os.path.isdir(os.path.join(ckpt, "run=2"))


@pytest.mark.parametrize("components", [
    lambda spark, lex: engine.connected_components(
        engine.alias_edges(spark, lex)),
    engine.alias_components,
], ids=["connected_components", "alias_components"])
def test_canonicalize_rewrites_variant_ids(spark, components):
    lex = Lexicon()
    lex.non_standard_resource_ids = {"id_b": "foo bar", "id_a": "bar foo"}
    lex.standard_resource_labels = {"foo bar": "id_b", "bar foo": "id_a"}
    lex.canon_labels = {"bar foo": {"foo bar": "id_b", "bar foo": "id_a"}}
    comps = components(spark, lex)
    trip = spark.createDataFrame(
        [("u#x", "componentMatch", engine.OBO_PREFIX + "ID_B")],
        "subj STRING, pred STRING, obj STRING")
    out = engine.canonicalize(trip, comps).collect()
    assert out[0].obj == engine.OBO_PREFIX + "ID_A"


DRIVERS = ("run_with_checkpoint", "run_full_artifacts")


@pytest.mark.parametrize("driver", DRIVERS)
def test_checkpoint_resume_skips_done_buckets(spark, lex_bc, driver):
    run = getattr(engine, driver)
    out = tempfile.mkdtemp()
    try:
        pages = synth_pages(spark, 200, corpus=load_corpus(limit=100))
        s1 = run(pages, lex_bc, out, n_buckets=4)
        assert s1["buckets_skipped"] == 0 and s1["triples"] > 0
        total1 = spark.read.parquet(os.path.join(out, "triples")).count()
        # resume: everything already done -> no recompute, same data
        s2 = run(pages, lex_bc, out, n_buckets=4)
        assert s2["buckets_skipped"] == 4 and s2["pages"] == 0
        total2 = spark.read.parquet(os.path.join(out, "triples")).count()
        assert total1 == total2
        manifest = spark.read.parquet(os.path.join(out, "manifest"))
        assert manifest.agg(F.sum("triples")).collect()[0][0] == s1["triples"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_partial_checkpoint_resume(spark, lex_bc):
    """Kill-mid-run simulation: 2 buckets complete, resume fills
    only the rest."""
    out = tempfile.mkdtemp()
    try:
        pages = synth_pages(spark, 200, corpus=load_corpus(limit=100))
        # a full run minus buckets 2-3's manifest rows and triples is
        # the state a kill after buckets 0-1 landed leaves
        engine.run_with_checkpoint(pages, lex_bc, out, n_buckets=4)
        for b in (2, 3):
            for d in ("manifest", "triples"):
                shutil.rmtree(os.path.join(out, d, f"bucket={b}"),
                              ignore_errors=True)
        s = engine.run_with_checkpoint(pages, lex_bc, out, n_buckets=4)
        assert s["buckets_skipped"] == 2
        assert spark.read.parquet(
            os.path.join(out, "manifest")).count() == 4
    finally:
        shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize("driver,recounted", [
    # the all-empty triple output makes AQE drop the pages observation
    # in the single-job driver; run_full_artifacts observes pages in
    # its (non-empty) mentions write, so nothing is recounted there
    ("run_with_checkpoint", ["pages"]),
    ("run_full_artifacts", []),
], ids=DRIVERS)
def test_checkpoint_zero_triple_bucket_clears_stale_partials(
        spark, lex_bc, caplog, driver, recounted):
    """A crashed prior run can leave partial files under
    triples/bucket=<b> with no manifest row. If the resume legitimately
    produces 0 triples for that bucket, dynamic partition overwrite
    writes nothing there — the stale files must be deleted explicitly
    before the bucket is manifested as triples=0. Counts recomputed
    because an observation lost its metrics are logged."""
    import logging

    caplog.set_level(logging.WARNING, logger="lexmapr_spark.engine")
    out = tempfile.mkdtemp()
    try:
        # texts that match nothing in the lexicon -> every bucket
        # produces 0 triples
        pages = spark.createDataFrame(
            [(f"https://host{i}/p", "zzzqqq wwwvvv xyzzy") for i in range(40)],
            "url STRING, text STRING")
        victim = pages.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int")
        ).select("bucket").first().bucket
        stale_dir = os.path.join(out, "triples", f"bucket={victim}")
        os.makedirs(stale_dir)
        # stale partial parquet from the "crashed" run
        spark.createDataFrame(
            [("u#t", "componentMatch", "stale")],
            "subj STRING, pred STRING, obj STRING"
        ).write.mode("overwrite").parquet(stale_dir)
        s = getattr(engine, driver)(pages, lex_bc, out, n_buckets=4)
        assert s["triples"] == 0 and s["pages"] == 40
        assert not os.path.exists(stale_dir)
        assert [r.getMessage().split()[1] for r in caplog.records
                if r.name == "lexmapr_spark.engine"] == recounted
        assert s["recounted"] == len(recounted)
        manifest = spark.read.parquet(os.path.join(out, "manifest"))
        assert manifest.where(F.col("bucket") == victim
                              ).first().triples == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize("driver", DRIVERS)
def test_checkpoint_chunked_matches_single_job(spark, lex_bc, driver):
    """manifest_chunks>1 (intra-run durability) must produce the same
    triples and manifest totals as the default single-pass job."""
    run = getattr(engine, driver)
    out1, out2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        pages = synth_pages(spark, 160, corpus=load_corpus(limit=80))
        s1 = run(pages, lex_bc, out1, n_buckets=4)
        s2 = run(pages, lex_bc, out2, n_buckets=4, manifest_chunks=2)
        assert s1 == s2 and s2["triples"] > 0
        t1 = spark.read.parquet(os.path.join(out1, "triples"))
        t2 = spark.read.parquet(os.path.join(out2, "triples"))
        assert t1.exceptAll(t2).count() == 0
        assert t2.exceptAll(t1).count() == 0
        # chunked run still resumes cleanly
        s3 = run(pages, lex_bc, out2, n_buckets=4, manifest_chunks=2)
        assert s3["buckets_skipped"] == 4 and s3["pages"] == 0
    finally:
        shutil.rmtree(out1, ignore_errors=True)
        shutil.rmtree(out2, ignore_errors=True)


def test_checkpoint_job_count_independent_of_n_buckets(spark, lex_bc):
    """A chunk's manifest rows land in one write, so the run's Spark
    job count does not grow with n_buckets; each manifest/bucket=<b>
    is one parquet file that pyarrow reads with every fingerprint
    column."""
    import pyarrow.parquet as pq

    sc = spark.sparkContext
    pages = synth_pages(spark, 40, corpus=load_corpus(limit=20))
    jobs = {}
    outs = {n: tempfile.mkdtemp() for n in (4, 16)}
    try:
        for n, out in outs.items():
            group = f"job_count_{n}_{os.path.basename(out)}"
            sc.setJobGroup(group, f"run_with_checkpoint n_buckets={n}")
            try:
                s = engine.run_with_checkpoint(pages, lex_bc, out, n_buckets=n)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert s["pages"] == 40 and s["triples"] > 0
            jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs[4] == jobs[16], jobs
        for n, out in outs.items():
            for b in range(n):
                bdir = os.path.join(out, "manifest", f"bucket={b}")
                files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
                assert len(files) == 1, (b, files)
                table = pq.read_table(os.path.join(bdir, files[0]))
                assert set(table.column_names) == (
                    set(engine._FINGERPRINT) | {"pages", "triples"})
                assert table.num_rows == 1
                assert table["n_buckets"].to_pylist() == [n]
    finally:
        for out in outs.values():
            shutil.rmtree(out, ignore_errors=True)


def test_canonical_run_adds_no_cc_jobs(spark, lex_bc):
    """canonical=True labels the lexicon's alias graph on the driver:
    it adds at most the canonicalize join's own jobs to a run, not the
    ~10 jobs of a Spark connected-components loop, and lands the same
    triples as the CC-labelled pipeline."""
    sc = spark.sparkContext
    pages = synth_pages(spark, 120, corpus=load_corpus(limit=60))
    jobs, trips = {}, {}
    outs = {c: tempfile.mkdtemp() for c in (False, True)}
    try:
        for canonical, out in outs.items():
            group = f"canonical_{canonical}_{os.path.basename(out)}"
            sc.setJobGroup(group, f"run_with_checkpoint canonical={canonical}")
            try:
                s = engine.run_with_checkpoint(pages, lex_bc, out, n_buckets=4,
                                               canonical=canonical)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert s["triples"] > 0
            jobs[canonical] = len(sc.statusTracker().getJobIdsForGroup(group))
            trips[canonical] = {tuple(r) for r in spark.read.parquet(
                os.path.join(out, "triples")).select("subj", "pred", "obj")
                .collect()}
        assert jobs[True] - jobs[False] <= 2, jobs
        comps = {r.node: r.component for r in engine.connected_components(
            engine.alias_edges(spark, lex_bc.value)).collect()}
        canon = {engine.OBO_PREFIX + n.upper(): engine.OBO_PREFIX + c.upper()
                 for n, c in comps.items()}
        assert trips[True] == {(s, p, canon.get(o, o))
                               for s, p, o in trips[False]}
    finally:
        for out in outs.values():
            shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize("driver", DRIVERS)
def test_resume_refuses_mismatched_run(spark, lex_bc, driver):
    """A resume whose bucket count, canonical mode or lexicon differs
    from the stored run's would mix two runs' outputs (a 4->8 bucket
    resume stores every url whose bucket id changed twice): each is
    refused before anything is written, naming the field."""
    import dataclasses

    run = getattr(engine, driver)
    out = tempfile.mkdtemp()
    try:
        pages = synth_pages(spark, 40, corpus=load_corpus(limit=20))
        run(pages, lex_bc, out, n_buckets=4)
        shutil.rmtree(os.path.join(out, "manifest", "bucket=1"))
        lex = lex_bc.value
        extra_bc = spark.sparkContext.broadcast(dataclasses.replace(
            lex, synonyms={**lex.synonyms, "zzz fowl": "chicken"}))
        for field, bc, kwargs in (
                ("n_buckets", lex_bc, {"n_buckets": 8}),
                ("canonical", lex_bc, {"n_buckets": 4, "canonical": True}),
                ("lexicon_sha256", extra_bc, {"n_buckets": 4})):
            with pytest.raises(ValueError, match=f"differs in {field} "):
                run(pages, bc, out, **kwargs)
        assert spark.read.parquet(os.path.join(out, "manifest")).count() == 3
        assert run(pages, lex_bc, out, n_buckets=4)["buckets_skipped"] == 3
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_resume_refuses_manifest_without_fingerprint(spark, lex_bc):
    """A manifest written before runs were fingerprinted is refused."""
    out = tempfile.mkdtemp()
    try:
        spark.createDataFrame([(10, 5)], "pages BIGINT, triples BIGINT") \
            .write.parquet(os.path.join(out, "manifest", "bucket=0"))
        pages = synth_pages(spark, 40, corpus=load_corpus(limit=20))
        with pytest.raises(ValueError, match="fresh out_dir"):
            engine.run_with_checkpoint(pages, lex_bc, out, n_buckets=4)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_run_full_artifacts_end_to_end(spark, lex_bc):
    """Production runner: mentions + triples + wide TSV from ONE input
    pass, bucket-resumable. Checks the single scan (accumulator), the
    triple set vs the direct pipeline, wide part files vs the
    driver-side renderer, and resume."""
    import glob

    out = tempfile.mkdtemp()
    try:
        pages = synth_pages(spark, 160, corpus=load_corpus(limit=80))
        rows_read = spark.sparkContext.accumulator(0)

        def counting(batches):
            for pdf in batches:
                rows_read.add(len(pdf))
                yield pdf

        counted = pages.mapInPandas(counting, pages.schema)
        s = engine.run_full_artifacts(counted, lex_bc, out, n_buckets=4)
        assert s["pages"] == 160 and s["triples"] > 0
        assert rows_read.value == 160, (
            f"input scanned {rows_read.value / 160:.1f}x, expected 1x")

        mentions = spark.read.parquet(os.path.join(out, "mentions"))
        assert mentions.count() == 160
        assert "ifsac_labels" in mentions.columns  # classify=True default

        got_triples = spark.read.parquet(os.path.join(out, "triples")) \
            .select("subj", "pred", "obj")
        direct = engine.triples(engine.annotate(pages, lex_bc))
        assert got_triples.exceptAll(direct).count() == 0
        assert direct.exceptAll(got_triples).count() == 0

        header = open(os.path.join(out, "wide", "_header.tsv")).read()
        assert header == "\t".join(engine.wide_headers(True, True)) + "\n"
        lines = []
        for p in glob.glob(os.path.join(out, "wide", "bucket=*", "part-*")):
            lines += open(p).read().rstrip("\n").split("\n")
        expect = engine.render_wide_tsv(
            mentions.collect(), full=True, bucket=True)
        assert sorted(lines) == sorted(expect.rstrip("\n").split("\n")[1:])

        s2 = engine.run_full_artifacts(pages, lex_bc, out, n_buckets=4)
        assert s2["buckets_skipped"] == 4 and s2["pages"] == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _wide_bucket_bytes(out, expect_parts=None):
    import glob

    got = {}
    for d in sorted(glob.glob(os.path.join(out, "wide", "bucket=*"))):
        parts = sorted(glob.glob(os.path.join(d, "part-*")))
        if expect_parts is not None:
            assert len(parts) == expect_parts, \
                f"{d}: expected {expect_parts} part files, got {len(parts)}"
        got[os.path.basename(d)] = b"".join(
            open(p, "rb").read() for p in parts)
    return got


def test_run_full_artifacts_wide_bucket_byte_order(spark, lex_bc):
    """The wide sink with wide_files_per_bucket=1: each wide bucket is
    ONE part file sorted by url, and re-running reproduces identical
    bytes — the strongest per-bucket ordering guarantee."""
    pages = synth_pages(spark, 120, corpus=load_corpus(limit=60))
    out1, out2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        engine.run_full_artifacts(pages, lex_bc, out1, n_buckets=4,
                                  wide_files_per_bucket=1)
        b1 = _wide_bucket_bytes(out1, expect_parts=1)
        assert len(b1) == 4
        # url-sorted within each bucket (urls are unique per page, and
        # wide line col 0 is the url/sample id)
        for blob in b1.values():
            ids = [ln.split("\t", 1)[0]
                   for ln in blob.decode().rstrip("\n").split("\n")]
            assert ids == sorted(ids)
        # independent run -> byte-identical buckets
        engine.run_full_artifacts(
            pages.repartition(7), lex_bc, out2, n_buckets=4,
            wide_files_per_bucket=1)
        assert _wide_bucket_bytes(out2, expect_parts=1) == b1
    finally:
        shutil.rmtree(out1, ignore_errors=True)
        shutil.rmtree(out2, ignore_errors=True)


def test_run_full_artifacts_wide_multi_file_buckets_deterministic(
        spark, lex_bc):
    """The scale-safe default: wide_files_per_bucket > 1 splits each
    bucket across several tasks (no one-task-per-bucket sort funnel).
    Bucket bytes stay deterministic across input layouts AND across a
    per-bucket resume, every part file is internally url-sorted, and
    the task count is fixed at n_buckets * fpb so resume reproduces
    identical files."""
    pages = synth_pages(spark, 120, corpus=load_corpus(limit=60))
    out1, out2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        # 4x4 on purpose: murmur3 collides some (bucket, sub) pairs of
        # the SAME bucket into one task at this config, so this also
        # proves per-file url order survives sub-slice collisions
        engine.run_full_artifacts(pages, lex_bc, out1, n_buckets=4,
                                  wide_files_per_bucket=4)
        b1 = _wide_bucket_bytes(out1)
        assert len(b1) == 4
        # >1 task per bucket actually materialized
        import glob
        n_parts = {d: len(glob.glob(os.path.join(d, "part-*")))
                   for d in glob.glob(os.path.join(out1, "wide", "bucket=*"))}
        assert any(n > 1 for n in n_parts.values()), n_parts
        for d in n_parts:
            for p in glob.glob(os.path.join(d, "part-*")):
                ids = [ln.split("\t", 1)[0] for ln in
                       open(p).read().rstrip("\n").split("\n") if ln]
                assert ids == sorted(ids)
        # different input partitioning -> byte-identical buckets
        engine.run_full_artifacts(pages.repartition(7), lex_bc, out2,
                                  n_buckets=4, wide_files_per_bucket=4)
        assert _wide_bucket_bytes(out2) == b1
        # resume of ONE bucket (delete its manifest row + data) writes
        # the same bytes the full run produced
        shutil.rmtree(os.path.join(out2, "manifest", "bucket=0"))
        shutil.rmtree(os.path.join(out2, "wide", "bucket=0"))
        s = engine.run_full_artifacts(pages, lex_bc, out2, n_buckets=4,
                                      wide_files_per_bucket=4)
        assert s["buckets_skipped"] == 3
        assert _wide_bucket_bytes(out2) == b1
    finally:
        shutil.rmtree(out1, ignore_errors=True)
        shutil.rmtree(out2, ignore_errors=True)


def test_run_full_artifacts_resume_reuses_manifest_fpb(spark, lex_bc):
    """A per-bucket resume in a session with DIFFERENT parallelism
    must not re-derive the wide_files_per_bucket default: the manifest
    records the original run's resolved value and the resume reuses
    it, keeping bucket bytes identical across configs."""
    pages = synth_pages(spark, 80, corpus=load_corpus(limit=40))
    out = tempfile.mkdtemp()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        engine.run_full_artifacts(pages, lex_bc, out, n_buckets=4)
        b1 = _wide_bucket_bytes(out)
        fpb = spark.read.parquet(os.path.join(out, "manifest")) \
            .select("wide_fpb").first()[0]
        assert fpb == 4  # 16 shuffle partitions / 4 buckets
        shutil.rmtree(os.path.join(out, "manifest", "bucket=1"))
        shutil.rmtree(os.path.join(out, "wide", "bucket=1"))
        # resume under a conf whose fresh default would be 8/4 = 2
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        s = engine.run_full_artifacts(pages, lex_bc, out, n_buckets=4)
        assert s["buckets_skipped"] == 3
        assert _wide_bucket_bytes(out) == b1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        shutil.rmtree(out, ignore_errors=True)


def test_run_full_artifacts_header_written_before_chunks(spark, lex_bc):
    """The wide header is input-independent and must land BEFORE bucket
    processing (and again on resume), so a crash after the last
    bucket's manifest can never leave the artifact headerless."""
    pages = synth_pages(spark, 40, corpus=load_corpus(limit=20))
    out = tempfile.mkdtemp()
    try:
        engine.run_full_artifacts(pages, lex_bc, out, n_buckets=2)
        hdr = os.path.join(out, "wide", "_header.tsv")
        assert os.path.exists(hdr)
        os.remove(hdr)
        # fully-resumed run (todo empty) must restore the header
        s = engine.run_full_artifacts(pages, lex_bc, out, n_buckets=2)
        assert s["buckets_skipped"] == 2
        assert os.path.exists(hdr)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_spark_bucket_output_byte_exact_vs_local(spark, lex_bc):
    """--bucket --full wide output through the Spark path: the four
    classification cells (pipeline.py:81-92,286-289) must render
    byte-identically to the local matcher path on non-empty input.
    (The reference's own bucket goldens are empty-input header checks;
    the local path's classification is differential-tested against the
    reference's pipeline_classification.py, closing the chain.)"""
    from lexmapr_spark.lexicon import default_lexicon
    from lexmapr_spark.matcher import format_output_row, process_sample
    from tests.golden_harness import read_samples

    lex = default_lexicon()
    rows = (list(read_samples("small_simple.csv"))
            + list(read_samples("zheminSamples.csv"))[:40])
    for full in (True, False):
        expected_rows = ["\t".join(
            format_output_row(process_sample(sid, desc, lex, classify=True),
                              full=full, bucket=True))
            for sid, desc in rows]
        df = spark.createDataFrame(rows, "url STRING, text STRING").coalesce(1)
        collected = engine.annotate(df, lex_bc, min_partitions=None,
                                    classify=True).collect()
        rendered = engine.render_wide_tsv(collected, full=full, bucket=True)
        body = rendered.rstrip("\n").split("\n")[1:]
        assert body == expected_rows
        # header mirrors pipeline.py:60-92 exactly
        header = rendered.split("\n")[0].split("\t")
        assert header[-1] == "Third Party Classification"
        assert len(header) == len(body[0].split("\t"))


def test_write_wide_tsv_distributed_byte_equal(spark, lex_bc, tmp_path):
    """The distributed wide sink (worker-side cell formatting +
    df.write.text, no driver collect) must reproduce render_wide_tsv's
    bytes exactly: _header.tsv + part files concatenated in name order
    == the driver-side render over url-sorted rows."""
    import glob

    from tests.golden_harness import read_samples

    rows = (list(read_samples("small_simple.csv"))
            + list(read_samples("zheminSamples.csv"))[:40])
    df = spark.createDataFrame(rows, "url STRING, text STRING").repartition(4)
    mentions = engine.annotate(df, lex_bc, classify=True)
    collected = sorted(mentions.collect(), key=lambda r: r.url)
    for full, bucket in ((True, True), (False, True), (True, False)):
        out = str(tmp_path / f"wide_{full}_{bucket}")
        engine.write_wide_tsv(mentions, out, full=full, bucket=bucket)
        parts = sorted(glob.glob(os.path.join(out, "part-*")))
        assert parts, "no part files written"
        got = open(os.path.join(out, "_header.tsv")).read()
        for p in parts:
            got += open(p).read()
        expect = engine.render_wide_tsv(collected, full=full, bucket=bucket)
        assert got == expect


def test_wide_lines_bucket_without_classify_raises(spark, lex_bc):
    df = spark.createDataFrame([("u1", "chicken breast")],
                               "url STRING, text STRING")
    mentions = engine.annotate(df, lex_bc, min_partitions=None)
    with pytest.raises(ValueError, match="classify=True"):
        engine.wide_lines(mentions, full=True, bucket=True)


def test_render_bucket_without_classify_raises(spark, lex_bc):
    df = spark.createDataFrame([("u1", "chicken breast")],
                               "url STRING, text STRING")
    collected = engine.annotate(df, lex_bc, min_partitions=None).collect()
    with pytest.raises(ValueError, match="classify=True"):
        engine.render_wide_tsv(collected, full=True, bucket=True)


@pytest.mark.parametrize("driver", DRIVERS)
def test_checkpoint_is_single_pass(spark, lex_bc, driver):
    """The checkpointed run must read every input row exactly ONCE per
    run (VERDICT r01: the old per-bucket loop scanned the input up to
    2x n_buckets times). An accumulator inside a pass-through
    mapInPandas stage counts rows actually pulled from the source."""
    out = tempfile.mkdtemp()
    try:
        pages = synth_pages(spark, 200, corpus=load_corpus(limit=100))
        rows_read = spark.sparkContext.accumulator(0)

        def counting(batches):
            for pdf in batches:
                rows_read.add(len(pdf))
                yield pdf

        counted = pages.mapInPandas(counting, pages.schema)
        s = getattr(engine, driver)(counted, lex_bc, out, n_buckets=4)
        assert s["pages"] == 200 and s["triples"] > 0
        assert rows_read.value == 200, (
            f"input scanned {rows_read.value / 200:.1f}x, expected 1x")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_checkpoint_canonical_single_pass(spark, lex_bc):
    """canonical=True through the single-pass checkpoint: objects are
    rewritten onto component-min IRIs, the bucket column survives the
    canonicalize join, and resume still skips everything."""
    out = tempfile.mkdtemp()
    try:
        pages = synth_pages(spark, 120, corpus=load_corpus(limit=60))
        s = engine.run_with_checkpoint(pages, lex_bc, out, n_buckets=4,
                                       canonical=True)
        assert s["triples"] > 0
        back = spark.read.parquet(os.path.join(out, "triples"))
        assert set(back.columns) == {"subj", "pred", "obj", "bucket"}
        assert back.count() == s["triples"]
        # canonicalization applied: every obj is an OBO IRI and the
        # set equals the non-checkpointed canonical pipeline's output
        comps = engine.connected_components(
            engine.alias_edges(spark, lex_bc.value))
        expect = engine.canonicalize(
            engine.triples(engine.annotate(pages, lex_bc)), comps)
        assert back.select("subj", "pred", "obj").exceptAll(expect).count() == 0
        assert expect.exceptAll(back.select("subj", "pred", "obj")).count() == 0
        s2 = engine.run_with_checkpoint(pages, lex_bc, out, n_buckets=4,
                                        canonical=True)
        assert s2["buckets_skipped"] == 4
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_spark_synlex_on_pinned_fixture(spark):
    """SynLex-on end-to-end fixture, independent of the differential
    slice rotation: input + expected full-mode TSV were generated by
    the REFERENCE's own pipeline.run with live CSVs (synonym tier
    active), and the Spark path with a golden_parity=False lexicon
    must reproduce the bytes exactly. Covers full-term Synonym Usage
    ('manure' -> animal manure), component-level synonyms ('seawater'
    -> sea water, 'stool' -> feces) and abbreviation+synonym stacking
    ('human stool')."""
    from lexmapr_spark.lexicon import compile_predefined
    from tests.golden_harness import read_samples

    lex = compile_predefined(golden_parity=False)
    bc = engine.broadcast_lexicon(spark, lex)
    rows = list(read_samples("synlex_samples.csv"))
    df = spark.createDataFrame(rows, "url STRING, text STRING").coalesce(1)
    collected = engine.annotate(df, bc, min_partitions=None).collect()
    rendered = engine.render_wide_tsv(collected, full=True)
    expected = open(os.path.join(
        os.path.dirname(__file__), "golden", "expected",
        "synlex_samples_full.tsv")).read()
    assert rendered == expected
    # the fixture actually exercises the synonym tier
    assert "Synonym Usage" in rendered


def test_annotate_memoizes_duplicate_texts_identically(spark, lex_bc):
    """Duplicate page texts hit the per-partition memo; every output
    row must still equal the per-row matcher result (distinct urls,
    shared text-derived fields), in input order."""
    from lexmapr_spark.lexicon import default_lexicon
    from lexmapr_spark.matcher import process_sample

    rows = [(f"u{i}", txt) for i in range(30)
            for txt in ("frozen chicken breast", "swab of pig carcass")]
    rows = [(f"{u}_{j}", t) for j, (u, t) in enumerate(rows)]
    df = spark.createDataFrame(rows, "url STRING, text STRING").coalesce(1)
    got = engine.annotate(df, lex_bc, min_partitions=None,
                          classify=True).collect()
    lex = default_lexicon()
    assert len(got) == len(rows)
    for r, (url, text) in zip(got, rows):
        exp = process_sample(url, text, lex, classify=True)
        assert r.url == url
        assert r.matched_components == exp.matched_components
        assert r.macro_status == exp.macro_status
        assert r.micro_status == exp.micro_status
        assert r.lexmapr_classification == str(exp.lexmapr_classification)
        assert list(r.ifsac_labels) == list(exp.third_party_classification)


def test_annotate_classify_with_extra_cols(spark, lex_bc):
    """classify=True + extra_cols passthrough compose: schema order is
    MENTION + CLASSIFY + extras and values line up row-wise."""
    df = spark.createDataFrame(
        [("u1", "chicken breast", 7), ("u2", "baked potato", 8)],
        "url STRING, text STRING, tag INT")
    got = engine.annotate(df, lex_bc, min_partitions=None,
                          classify=True, extra_cols=("tag",)).collect()
    by_url = {r.url: r for r in got}
    assert by_url["u1"].tag == 7 and by_url["u2"].tag == 8
    assert isinstance(by_url["u1"].ifsac_labels, list)
    assert by_url["u1"].third_party_bucket.startswith("[")


def test_annotate_survives_null_cells(spark, lex_bc):
    """Crawl tables contain null urls/texts; a None cell must degrade
    to an empty mention row, never kill the job."""
    pages = spark.createDataFrame(
        [(None, "chicken breast"), ("u2", None), (None, None),
         ("u4", "chicken breast")],
        "url STRING, text STRING")
    out = engine.annotate(pages, lex_bc).collect()
    assert len(out) == 4
    by_url = {r.url: r for r in out}
    assert by_url["u2"].macro_status == "No Match"
    # null-url rows still match on their text
    matched = [r for r in out if r.url is None and r.macro_status
               != "No Match"]
    assert len(matched) == 1
    assert by_url["u4"].matched_components == matched[0].matched_components


def test_triples_skip_null_url_pages(spark, lex_bc):
    """A page with a NULL url emits no triples: concat_ws skips NULL,
    so its subject would be the bare label, shared by every such page.
    The narrow hand-off keeps the url NULL (not ''); pages with a url
    are unaffected."""
    pages = spark.createDataFrame(
        [(None, "chicken breast"), (None, "frozen chicken breast"),
         ("u4", "chicken breast")],
        "url STRING, text STRING")
    got = engine.triples(engine.annotate(pages, lex_bc)).collect()
    assert got and all(r.subj.startswith("u4#") for r in got), got
    narrow = engine.annotate(pages, lex_bc, fields=engine.TRIPLE_FIELDS)
    assert sorted(r.url is None for r in narrow.collect()) == [
        False, True, True]
    assert sorted(engine.triples(narrow).collect()) == sorted(got)


def test_narrow_hand_off_matches_full(spark, lex_bc):
    """annotate(fields=TRIPLE_FIELDS) equals the full mention table
    projected to those columns, over the golden inputs plus null cells
    and repeated texts (the per-partition memo path), and
    run_with_checkpoint, which ships only those columns, lands exactly
    triples(annotate(pages)). A field subset keeps the caller's order
    and rides with extra_cols; an unknown field name raises."""
    rows = golden_pages(spark).collect()
    rows += [(None, "chicken breast"), ("n2", None), (None, None)]
    rows += [(f"rep{i}", t) for i in range(20)
             for t in ("frozen chicken breast", "swab of pig carcass")]
    pages = spark.createDataFrame(rows, "url STRING, text STRING")
    cols = list(engine.TRIPLE_FIELDS)
    full = engine.annotate(pages, lex_bc).select(*cols)
    narrow = engine.annotate(pages, lex_bc, fields=engine.TRIPLE_FIELDS)
    assert narrow.columns == cols
    assert narrow.schema == full.schema
    assert narrow.count() == len(rows)
    assert narrow.exceptAll(full).count() == 0
    assert full.exceptAll(narrow).count() == 0
    picked = engine.annotate(
        pages.withColumn("tag", F.lit(3)), lex_bc, classify=True,
        fields=("ifsac_labels", "url"), extra_cols=("tag",))
    assert picked.columns == ["ifsac_labels", "url", "tag"]
    assert {r.tag for r in picked.collect()} == {3}
    for bad in (("url", "bogus"), ("ifsac_labels",)):
        # ifsac_labels exists only with classify=True
        with pytest.raises(ValueError, match="unknown fields"):
            engine.annotate(pages, lex_bc, fields=bad)
    out = tempfile.mkdtemp()
    try:
        s = engine.run_with_checkpoint(pages, lex_bc, out, n_buckets=4)
        back = spark.read.parquet(os.path.join(out, "triples")) \
            .select("subj", "pred", "obj")
        want = engine.triples(engine.annotate(pages, lex_bc))
        assert back.count() == s["triples"] > 0
        assert back.exceptAll(want).count() == 0
        assert want.exceptAll(back).count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _stub_session(conf_get):
    """Just the two session attributes ``_session_parallelism`` reads."""
    from types import SimpleNamespace
    return SimpleNamespace(conf=SimpleNamespace(get=conf_get),
                           sparkContext=SimpleNamespace(defaultParallelism=7))


def test_session_parallelism_non_numeric_conf_falls_back():
    assert engine._session_parallelism(_stub_session(lambda key: "12")) == 12
    assert engine._session_parallelism(_stub_session(lambda key: "auto")) == 7


def test_session_parallelism_conf_error_propagates():
    def broken_get(key):
        raise RuntimeError("conf unavailable")

    with pytest.raises(RuntimeError, match="conf unavailable"):
        engine._session_parallelism(_stub_session(broken_get))


def test_manifest_frame_is_a_local_scan(spark):
    """The manifest rows reach the writer without Python tasks or a
    shuffle: the plan is a local table scan with no Exchange, and a
    NULL and an int ``wide_fpb`` both round-trip, one file per
    manifest/bucket=<b>."""
    import pyarrow.parquet as pq

    fp = (engine.MANIFEST_VERSION, "run_full_artifacts", 2, True, False,
          False)
    rows = [(3, 7, *fp, None, "sha", 0), (0, 0, *fp, 4, "sha", 1)]
    frame = engine._manifest_frame(spark, rows)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "LocalTableScan" in plan, plan
    out = tempfile.mkdtemp()
    try:
        engine._write_buckets(frame).parquet(out)
        got = sorted((tuple(r) for r in spark.read.parquet(out).collect()),
                     key=lambda r: r[-1])
        assert [(r[-1], r[-3]) for r in got] == [(0, None), (1, 4)]
        assert got == [tuple(r) for r in rows]
        for b in (0, 1):
            bdir = os.path.join(out, f"bucket={b}")
            files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
            assert len(files) == 1, files
            assert pq.read_table(os.path.join(bdir, files[0])).num_rows == 1
    finally:
        shutil.rmtree(out, ignore_errors=True)
