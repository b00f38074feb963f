#!/usr/bin/env python3
"""Layered benchmark of the LexMapr KG-construction pipeline.

    python3 perfbench/run.py --workload crawl_unique --seed 1 --seconds 2 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed`` and written to parquet before any timing; the program scans
them through its public entry points (``engine.run_with_checkpoint``
and, on ``crawl_repeat``, a ``__spark_entry__.queries()`` suite).
Load model: a closed loop of one driver process on ``local[<cpus>]``
with Spark's default driver memory, one job at a time, no client
threads.

One run (each run is a fresh process, so the set-up is cold):
  1. sets up once (JVM and session start, lexicon compile, broadcast
     and one warm batch) and reports it as ``setup_s``;
  2. on a suite workload, times every query of the suite once: a
     contract run runs each query once, so this is each query's first
     run in the session;
  3. runs the driver once, untimed, over the first input file, so the
     JVM code paths are compiled before timing;
  4. until ``--seconds`` have passed, repeats timed passes of [fresh
     full run, drop half the buckets' manifest rows, resume]; reports
     the medians;
  5. recomputes every page's triples with ``process_sample`` and checks
     each landed table (pass and resume) against them, checks every
     query output against its oracle, and checks the golden corpus
     (P/R = 1.0). Failed checks count toward ``failed``.
With ``--trace 1`` steps 2-4 become a traced walk over every module
boundary (``traced_chain``) plus the query suite, and the per-layer
metrics are printed.

End-to-end metrics: ``setup_s``; ``pages_per_s`` (pages landed per
second by the full run); ``resume_s`` (the half resume); ``suite_s``
(every timed operation once: the full run and the resume and, on a
suite workload, every query); ``py_worker_rss_mb`` (peak summed RSS of
the Python workers while timed).

The last stdout line is the result JSON; the line before it names the
detail file (set-up, passes, loads, checks, spans) under
``.perfbench_work/results``. Exits 2 without a result when the program
cannot be imported.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True   # leave no caches in the checkout

from opsuite import MODULES as OPS_MODULES  # noqa: E402

RUN_DEADLINE_S = 100    # no timed pass starts after this
MICRO_ROWS = 400        # distinct texts timed single-threaded (trace)
WARM_ROWS = 400         # rows in the set-up's warm batch
DRIVER = "run_with_checkpoint"   # the workloads' driver
DRIVERS = (DRIVER, "run_full_artifacts")   # traced sinks

# the end-to-end metric (and workload) each per-layer metric should
# move; copied into every detail file. No workload drives
# run_full_artifacts end to end, so its layers are traced only.
TRACED_ONLY = "none end to end: only the traced run_full_artifacts call"
MATCHER = ("pages_per_s, resume_s and suite_s on crawl_unique; "
           "none on crawl_repeat")
REPEAT = "pages_per_s and suite_s on crawl_repeat"
MOVES = {
    "engine.build_spark.s": "setup_s",
    "lexicon.default_lexicon.s": "setup_s",
    "engine.broadcast_lexicon.s": "setup_s",
    "engine.annotate.warm_s": "setup_s",
    "spark.scan.self_s": "pages_per_s on every workload",
    "engine.annotate.self_s":
        "pages_per_s on crawl_unique; the pandas hand-off on crawl_repeat",
    "engine.annotate.core_busy_share": "pages_per_s on crawl_unique",
    "engine.annotate.task_max_over_median": "pages_per_s on crawl_unique",
    "engine.annotate.memo_hit_share_est": REPEAT,
    "matcher.process_sample.us_per_row": MATCHER,
    "matcher.map_term.us_per_row": MATCHER,
    "textops.word_tokenize.us_per_row": MATCHER,
    "classification.classify_sample.us_per_row": TRACED_ONLY,
    "classification.self_s": TRACED_ONLY,
    "engine.triples.self_s": REPEAT,
    "engine.triples.raw_rows": REPEAT,
    "engine.triples.rows": REPEAT,
    "engine.triples.shuffle_write_mb": REPEAT,
    "engine.run_with_checkpoint.sink_self_s":
        "pages_per_s, resume_s and suite_s on every workload",
    "engine.run_with_checkpoint.bytes_written_mb": REPEAT,
    "engine.run_with_checkpoint.files_written": REPEAT,
    "engine.connected_components.s": TRACED_ONLY,
    "engine.canonicalize.self_s": TRACED_ONLY,
    "engine.run_full_artifacts.sink_self_s": TRACED_ONLY,
    "engine.run_full_artifacts.bytes_written_mb": TRACED_ONLY,
    "engine.run_full_artifacts.files_written": TRACED_ONLY,
    "engine.resume.buckets_redone": "resume_s on every workload",
    "engine.resume.pages_redone": "resume_s on every workload",
    **{f"ops.{m}.s": "suite_s on crawl_repeat" for m in OPS_MODULES},
    "ops.queries_failed": "suite_s on crawl_repeat (a failed query is not timed)",
    "failed_share": "every metric (a failed pass is not timed)",
    "trace.overhead_share": "none: traced wall over untraced wall, minus 1",
}


def now() -> float:
    return time.perf_counter()


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def sandbox_env(run_dir: str) -> None:
    """Keep the files Spark, the JVM and Python write inside the run
    dir. Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


class Bench:
    def __init__(self, args, wl, run_dir: str):
        from probes import Tracer

        self.args = args
        self.wl = wl
        self.run_dir = run_dir
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(enabled=bool(args.trace), run_id=uuid.uuid4().hex[:12])
        self.spark = self.lex = self.lex_bc = self.inputs = None
        self.suite = self.docs = None
        self.query_walls: dict = {}       # suite query -> first-run wall
        self.query_rss = None
        self.setup_rec: dict = {}
        self.passes: list[dict] = []
        self.queries: list[dict] = []
        self.checks: list[dict] = []
        self.attempted = self.failed = 0
        self.t0 = now()
        self.layer: dict = {}
        self.extra: dict = {}

    # -- bookkeeping ------------------------------------------------------

    def check(self, name: str, ok: bool, **info) -> bool:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append({"name": name, "ok": bool(ok),
                            "at_s": now() - self.t0, **info})
        if not ok:
            print(f"perfbench: check failed: {name} {info}", file=sys.stderr)
        return ok

    def call(self, name: str, fn, group: bool = False):
        """Run ``fn`` in a span (tagging its Spark jobs with a job group
        when ``group``); returns (result, wall seconds, span)."""
        sc = self.spark.sparkContext if group else None
        with self.tracer.span(name, sc=sc) as rec:
            t0 = now()
            out = fn()
            wall = now() - t0
        return out, wall, rec

    def op(self, name: str, fn, group: bool = False):
        """``call`` counted as one attempted operation; a raise counts as
        failed and returns (None, None, None)."""
        self.attempted += 1
        try:
            return self.call(name, fn, group)
        except Exception:
            self.failed += 1
            self.checks.append({"name": name, "ok": False,
                                "error": traceback.format_exc()})
            traceback.print_exc()
            return None, None, None

    def guarded(self, name: str, fn) -> None:
        """Run a check or probe; a raise counts as one failed check."""
        try:
            fn()
        except Exception:
            self.check(name, False, error=traceback.format_exc())

    @contextmanager
    def untraced(self):
        enabled, self.tracer.enabled = self.tracer.enabled, False
        try:
            yield
        finally:
            self.tracer.enabled = enabled

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """One cold set-up: the run is a fresh process, so this includes
        the JVM launch and the Python workers' start, as a job pays."""
        from lexmapr_spark import engine, lexicon
        from lexmapr_spark.pages import load_corpus

        warm_rows = [(f"warm/{i}", t)
                     for i, t in enumerate(load_corpus()[:WARM_ROWS])]
        rec = self.setup_rec
        rec["load_before"] = os.getloadavg()[0]
        with self.tracer.span("setup"):
            self.spark, rec["engine.build_spark.s"], _ = self.call(
                "engine.build_spark",
                lambda: engine.build_spark(cpus=self.cores, app="perfbench"))
            self.spark.sparkContext.setLogLevel("ERROR")
            self.lex, rec["lexicon.default_lexicon.s"], _ = self.call(
                "lexicon.compile_predefined", lexicon.compile_predefined)
            self.lex_bc, rec["engine.broadcast_lexicon.s"], _ = self.call(
                "engine.broadcast_lexicon",
                lambda: engine.broadcast_lexicon(self.spark, self.lex))
            warm = self.spark.createDataFrame(warm_rows, "url string, text string")
            _, rec["engine.annotate.warm_s"], _ = self.call(
                "engine.annotate.warm",
                lambda: noop(engine.annotate(warm, self.lex_bc)), group=True)
        rec["setup_s"] = (rec["engine.build_spark.s"]
                          + rec["lexicon.default_lexicon.s"]
                          + rec["engine.broadcast_lexicon.s"]
                          + rec["engine.annotate.warm_s"])
        rec["load_after"] = os.getloadavg()[0]
        for key in ("engine.build_spark.s", "lexicon.default_lexicon.s",
                    "engine.broadcast_lexicon.s", "engine.annotate.warm_s"):
            self.layer[key] = rec[key]

    # -- driver passes ----------------------------------------------------

    def pages_df(self, path: str | None = None):
        return self.spark.read.parquet(path or self.inputs.path)

    def run_driver(self, driver: str, out_dir: str, path: str | None) -> dict:
        from lexmapr_spark import engine

        kwargs = ({"full": True, "classify": True, "canonical": True}
                  if driver == "run_full_artifacts" else {})
        return getattr(engine, driver)(self.pages_df(path), self.lex_bc,
                                       out_dir, n_buckets=self.wl.n_buckets,
                                       **kwargs)

    def drop_half_manifest(self, out_dir: str) -> tuple[int, int]:
        """Delete the odd buckets' manifest rows, as a kill after the
        even buckets landed would leave them; returns the (buckets,
        pages) a resume must redo."""
        import pyarrow.parquet as pq

        pages = 0
        dropped = range(1, self.wl.n_buckets, 2)
        for b in dropped:
            path = os.path.join(out_dir, "manifest", f"bucket={b}")
            pages += sum(pq.read_table(path, columns=["pages"])["pages"]
                         .to_pylist())
            shutil.rmtree(path)
        return len(dropped), pages

    def landed(self, rec: dict, key: str, stats: dict, skipped: int,
               pages: int) -> None:
        """Check the driver's returned stats now, and keep the landed
        table's digest for :meth:`verify`, which checks it against the
        recomputed triples once the timed passes are over."""
        from checks import spark_digest

        self.check(f"{rec['label']}.{key}.stats",
                   stats["buckets_skipped"] == skipped and stats["pages"] == pages,
                   stats=stats, expected_skipped=skipped, expected_pages=pages)
        rec[f"{key}_digest"] = spark_digest(
            self.spark, os.path.join(rec["out"], "triples"))

    def kg_pass(self, label: str, driver: str, resume: bool = True,
                warm: bool = False) -> dict:
        """A fresh full run into its own dir, then (with ``resume``) a
        resume after dropping half the manifest. Timed walls exclude
        the checks. A ``warm`` pass runs over the first input file only:
        it exists to compile the JVM code paths, whose cost does not
        depend on the input size."""
        from probes import dir_stats

        path, n_pages = (self.inputs.files[0] if warm
                         else (None, self.wl.pages))
        out = os.path.join(self.run_dir, "out", label)
        shutil.rmtree(out, ignore_errors=True)
        rec = {"label": label, "driver": driver, "out": out, "pages": n_pages,
               "load_before": os.getloadavg()[0]}
        self.passes.append(rec)
        stats, rec["full_s"], _ = self.op(
            driver, lambda: self.run_driver(driver, out, path), group=True)
        rec["load_after_full"] = os.getloadavg()[0]
        if stats is None:
            return rec
        rec["full_stats"] = stats
        rec["bytes_written"], rec["files_written"] = dir_stats(out)
        self.guarded(f"{label}.full", lambda: self.landed(
            rec, "full", stats, 0, n_pages))
        if resume:
            buckets, pages = self.drop_half_manifest(out)
            stats, rec["resume_s"], _ = self.op(
                f"{driver}.resume", lambda: self.run_driver(driver, out, path),
                group=True)
            rec["load_after"] = os.getloadavg()[0]
            if stats is not None:
                rec["resume_stats"] = stats
                self.guarded(f"{label}.resume", lambda: self.landed(
                    rec, "resume", stats, self.wl.n_buckets - buckets, pages))
        return rec

    def suite_pass(self, label: str) -> dict:
        """Every suite query once, each timed to pandas; the outputs
        are summarised for :meth:`verify`."""
        from opsuite import SUITE

        walls = {}
        load_before = os.getloadavg()[0]
        for name in SUITE:
            pdf, wall, _ = self.op(f"ops.{name}",
                                   lambda: self.suite.run(name), group=True)
            rec = {"pass": label, "query": name, "module": SUITE[name],
                   "wall_s": wall}
            if pdf is not None:
                walls[name] = wall
                rec["observed"] = self.suite.observe(name, pdf)
            self.queries.append(rec)
        self.extra[f"suite.{label}.load_before_after"] = (load_before,
                                                          os.getloadavg()[0])
        return walls

    def timed_passes(self, sampler) -> None:
        """Passes until ``--seconds`` have elapsed (the pass in flight
        finishes)."""
        t0 = now()
        for n in itertools.count():
            sampler.take_peak()
            rec = self.kg_pass(f"pass{n}", DRIVER)
            shutil.rmtree(rec["out"], ignore_errors=True)
            rec["py_worker_rss_bytes"] = sampler.take_peak()
            if (now() - t0 >= self.args.seconds
                    or now() - self.t0 > RUN_DEADLINE_S):
                return

    # -- output checks ------------------------------------------------------

    def verify(self) -> None:
        """Recompute every page's triples with ``process_sample`` (outside
        the engine) and check each landed table and query output."""
        from checks import Expected, canonical_map

        t0 = now()

        inp = self.inputs
        exp = Expected(self.lex)
        exp.fill(self.spark, self.lex_bc,
                 inp.texts + (self.docs["text"] if self.docs else []),
                 self.cores * 4)
        rows, crc, raw = exp.digest(inp.urls, inp.texts, None)
        canon = None
        for rec in self.passes:
            if rec["driver"] == "run_full_artifacts":
                canon = canon or canonical_map(self.spark, self.lex)
            n = rec["pages"]
            want = list(exp.digest(inp.urls[:n], inp.texts[:n],
                                   canon if rec["driver"] != DRIVER else None)[:2])
            for key in ("full", "resume"):
                if f"{key}_digest" in rec:
                    got = list(rec[f"{key}_digest"])
                    self.check(f"{rec['label']}.{key}.triples", got == want,
                               digest=got, expected=want)
        if self.suite is not None:
            docs = self.docs
            self.suite.expect(exp.digest(
                [f"doc://{i}" for i in docs["doc_id"]], docs["text"], None)[:2])
            for q in self.queries:
                if "observed" in q:
                    ok, info = self.suite.verify(q["query"], q.pop("observed"))
                    self.check(f"ops.{q['query']}.{q['pass']}", ok, **info)
        self.layer["engine.triples.raw_rows"] = raw
        self.layer["engine.triples.rows"] = rows
        tiers = [exp.tier(t) for t in inp.texts]
        n = len(tiers)
        self.layer.update({
            "matcher.tier_share.full": tiers.count("fullTermMatch") / n,
            "matcher.tier_share.component": tiers.count("componentMatch") / n,
            "matcher.tier_share.none": tiers.count(None) / n,
        })
        self.extra["verify_s"] = now() - t0

    def artifact_check(self, out: str) -> None:
        """Mentions and wide TSV rows: one per page."""
        mentions = self.spark.read.parquet(os.path.join(out, "mentions")).count()
        wide = self.spark.read.text(os.path.join(out, "wide")).count()
        header = os.path.exists(os.path.join(out, "wide", "_header.tsv"))
        self.check("artifacts_rows", mentions == wide == self.wl.pages and header,
                   mentions=mentions, wide_lines=wide, header=header)

    def golden_check(self) -> None:
        from checks import golden_precision_recall

        p, r, diffs = golden_precision_recall(self.lex)
        self.check("golden", p == 1.0 and r == 1.0 and diffs == 0,
                   precision=p, recall=r, cases_with_diffs=diffs)

    # -- traced walk over the module boundaries ---------------------------

    def traced_chain(self) -> None:
        """Each step is a cumulative public-call prefix run to the noop
        sink (or a driver run); a layer's self time is its prefix wall
        minus the previous prefix's. Then the query suite, once."""
        from lexmapr_spark import engine
        from opsuite import SUITE

        w = {}
        groups = {}

        def step(name, fn, repeats=1):
            """The fastest of ``repeats`` runs."""
            best = (None, None, None)
            for _ in range(repeats):
                out, wall, rec = self.op(name, fn, group=True)
                if wall is not None and (best[1] is None or wall < best[1]):
                    best = (out, wall, rec["job_group"])
            out, w[name], groups[name] = best
            return out

        def comps_rows():
            comps = engine.connected_components(
                engine.alias_edges(self.spark, self.lex))
            return comps.collect(), comps.schema

        # each driver runs untraced over the first input file first: it
        # compiles the JVM code paths every prefix and driver run uses
        with self.untraced():
            for d in DRIVERS:
                self.kg_pass(f"warm.{d}", d, resume=False, warm=True)
        step("spark.scan", lambda: noop(self.pages_df().select("url", "text")))
        # annotate's first run also fills the workers' token memos,
        # which every later prefix reuses: time it twice
        step("engine.annotate",
             lambda: noop(engine.annotate(self.pages_df(), self.lex_bc)),
             repeats=2)
        step("engine.annotate.classify", lambda: noop(engine.annotate(
            self.pages_df(), self.lex_bc, classify=True)))
        step("engine.triples", lambda: noop(engine.triples(
            engine.annotate(self.pages_df(), self.lex_bc))))
        cc = step("engine.connected_components", comps_rows)
        if cc is not None:
            step("engine.canonicalize", lambda: noop(engine.canonicalize(
                engine.triples(engine.annotate(self.pages_df(), self.lex_bc)),
                self.spark.createDataFrame(*cc))))

        # each driver runs traced; the workloads' driver (with a resume)
        # runs untraced once more: the tracing overhead is the ratio of
        # its traced and untraced walls
        sinks = {d: self.kg_pass(f"traced.{d}", d, resume=d == DRIVER)
                 for d in DRIVERS}
        with self.untraced():
            plain = self.kg_pass("untraced", DRIVER, resume=False)
        own = sinks[DRIVER]

        artifacts = sinks["run_full_artifacts"]
        if artifacts.get("full_stats"):
            self.guarded("artifacts_rows",
                         lambda: self.artifact_check(artifacts["out"]))
        # one suite pass, after the KG work has warmed the JVM
        query_walls = self.suite_pass("traced")
        self.guarded("memo_estimate", self.memo_estimate)
        self.guarded("micro_benchmarks", self.micro_benchmarks)

        L = self.layer

        def sub(a, b):
            return w[a] - w[b] if w.get(a) and w.get(b) else None

        L["spark.scan.self_s"] = w.get("spark.scan")
        L["engine.annotate.self_s"] = sub("engine.annotate", "spark.scan")
        L["classification.self_s"] = sub("engine.annotate.classify",
                                         "engine.annotate")
        L["engine.triples.self_s"] = sub("engine.triples", "engine.annotate")
        L["engine.connected_components.s"] = w.get("engine.connected_components")
        L["engine.canonicalize.self_s"] = sub("engine.canonicalize",
                                              "engine.triples")
        for d, rec in sinks.items():
            w[d] = rec.get("full_s")
            if rec.get("full_stats"):
                L[f"engine.{d}.bytes_written_mb"] = rec["bytes_written"] / 1e6
                L[f"engine.{d}.files_written"] = rec["files_written"]
        L["engine.run_with_checkpoint.sink_self_s"] = sub(
            "run_with_checkpoint", "engine.triples")
        # run_full_artifacts' prefix: annotate(classify), then the
        # triples and canonicalize self times, plus the CC run it starts
        prefix = [w.get("engine.annotate.classify"), L["engine.triples.self_s"],
                  L["engine.canonicalize.self_s"],
                  w.get("engine.connected_components")]
        if w.get("run_full_artifacts") and None not in prefix:
            L["engine.run_full_artifacts.sink_self_s"] = (
                w["run_full_artifacts"] - sum(prefix))
        if own.get("resume_stats"):
            L["engine.resume.buckets_redone"] = (
                self.wl.n_buckets - own["resume_stats"]["buckets_skipped"])
            L["engine.resume.pages_redone"] = own["resume_stats"]["pages"]
        if own.get("full_s") and plain.get("full_s"):
            L["trace.overhead_share"] = own["full_s"] / plain["full_s"] - 1
        if len(query_walls) == len(SUITE):
            for m in OPS_MODULES:
                L[f"ops.{m}.s"] = sum(v for q, v in query_walls.items()
                                      if SUITE[q] == m)
        self.extra["prefix_walls_s"] = w

        self.guarded("stage_metrics", lambda: self.stage_layers(w, groups))

    def stage_layers(self, walls: dict, groups: dict) -> None:
        """Task-time and shuffle metrics of the annotate and triples
        prefixes, from Spark's status store."""
        from probes import StageMetrics

        stages = StageMetrics(self.spark.sparkContext)
        ann = stages.job_group(groups["engine.annotate"])
        tri = stages.job_group(groups["engine.triples"])
        self.extra["stage_metrics"] = {"engine.annotate": ann,
                                       "engine.triples": tri}
        L = self.layer
        L["engine.annotate.core_busy_share"] = (
            ann["task_run_s"] / (walls["engine.annotate"] * self.cores))
        L["engine.annotate.task_max_over_median"] = ann["task_max_over_median"]
        L["engine.triples.shuffle_write_mb"] = tri["shuffle_write_bytes"] / 1e6

    def memo_estimate(self) -> None:
        """annotate memoises per task, i.e. per input partition: hits =
        pages - distinct (partition, text) pairs of the scan."""
        from pyspark.sql import functions as F

        pairs = (self.pages_df()
                 .select(F.spark_partition_id().alias("p"), "text")
                 .distinct().count())
        self.layer["engine.annotate.memo_hit_share_est"] = 1 - pairs / self.wl.pages

    def micro_benchmarks(self) -> None:
        """Single-threaded per-row costs on the driver over a seeded
        sample of the workload's distinct texts (token memo warm)."""
        from lexmapr_spark.classification import classify_sample
        from lexmapr_spark.matcher import map_term, process_sample
        from lexmapr_spark.textops import punctuation_treatment, word_tokenize

        lex = self.lex
        distinct = sorted(set(self.inputs.texts))
        rng = random.Random(f"micro:{self.args.seed}")
        texts = rng.sample(distinct, min(MICRO_ROWS, len(distinct)))
        results = [process_sample("", t, lex) for t in texts]   # warm-up
        samples = [punctuation_treatment(t.strip().lower()) for t in texts]

        def per_row(fn):
            t0 = now()
            fn()
            return (now() - t0) / len(texts) * 1e6

        L = self.layer
        L["matcher.process_sample.us_per_row"] = per_row(
            lambda: [process_sample("", t, lex) for t in texts])
        # the full-term tier: its four map_term attempts per row
        L["matcher.map_term.us_per_row"] = per_row(lambda: [
            (map_term(s, lex), map_term(r.processed_sample, lex),
             map_term(s, lex, consider_suffixes=True),
             map_term(r.processed_sample, lex, consider_suffixes=True))
            for s, r in zip(samples, results)])
        L["textops.word_tokenize.us_per_row"] = per_row(
            lambda: [word_tokenize(s) for s in samples])
        L["classification.classify_sample.us_per_row"] = per_row(lambda: [
            classify_sample(s, r.matched_components, lex)
            for s, r in zip(samples, results)])

    # -- the run ------------------------------------------------------------

    def run(self) -> dict:
        import tables
        from opsuite import Suite
        from probes import RssSampler
        from workloads import generate

        self.setup()
        if self.wl.suite or self.args.trace:
            tables_dir = os.path.join(self.run_dir, "tables")
            self.docs = tables.generate(self.args.seed, tables_dir)
            self.suite = Suite(self.spark, tables_dir)
        self.inputs = generate(self.wl, self.args.seed,
                               os.path.join(self.run_dir, "input"))
        self.layer.update(self.inputs.properties)
        with RssSampler() as sampler:
            if self.args.trace:
                self.traced_chain()
            else:
                if self.suite is not None:
                    sampler.take_peak()
                    self.query_walls = self.suite_pass("first")
                    self.query_rss = sampler.take_peak()
                self.kg_pass("warm", DRIVER, resume=False, warm=True)
                self.timed_passes(sampler)
        self.guarded("verify", self.verify)
        self.guarded("golden", self.golden_check)
        return self.metrics()

    def metrics(self) -> dict:
        timed = [p for p in self.passes if p["label"].startswith("pass")]
        full = median(p.get("full_s") for p in timed)
        self.layer["failed_share"] = self.failed / max(self.attempted, 1)
        self.layer["ops.queries_failed"] = sum(
            1 for c in self.checks if c["name"].startswith("ops.") and not c["ok"])
        resume = median(p.get("resume_s") for p in timed)
        suite = full + resume if full and resume else None
        if suite and self.suite is not None:
            walls = [self.query_walls.get(q) for q in self.suite.queries]
            suite = None if None in walls else suite + sum(walls)
        rss = max([self.query_rss or 0]
                  + [p.get("py_worker_rss_bytes") or 0 for p in timed])
        return {
            "setup_s": self.setup_rec.get("setup_s"),
            "pages_per_s": self.wl.pages / full if full else None,
            "resume_s": resume,
            "suite_s": suite,
            "py_worker_rss_mb": rss / 1e6 if rss else None,
        }

    def stop(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        if self.spark is None:
            return
        from probes import descendants
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()   # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        # the Python workers exit once the JVM that forked them is gone
        deadline = now() + 30
        while descendants(os.getpid()) and now() < deadline:
            time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    sys.path.insert(0, ROOT)
    try:
        import lexmapr_spark.engine  # noqa: F401
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (ImportError, OSError) as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    sandbox_env(run_dir)

    bench = Bench(args, wl, run_dir)
    try:
        e2e = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = bench.layer if args.trace else e2e
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            bench.check(f"metric.{m['name']}", False, reason="not measured")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    result = {"correct": bench.failed == 0, "attempted": bench.attempted,
              "failed": bench.failed, "metrics": metrics}

    detail_path = os.path.join(
        results_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(detail_path, "w") as f:
        json.dump({
            "args": vars(args), "workload": wl.__dict__, "cpus": bench.cores,
            "load_model": "closed loop: one driver process, "
                          f"local[{bench.cores}], one job at a time",
            "result": result, "end_to_end": e2e, "per_layer": bench.layer,
            "moves": MOVES, "setup": bench.setup_rec, "passes": bench.passes,
            "queries": bench.queries, "checks": bench.checks, "spans": bench.tracer.spans,
            "span_epoch0": bench.tracer.epoch0, **bench.extra,
        }, f, indent=1, default=str)
    print(f"detail: {os.path.relpath(detail_path, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
