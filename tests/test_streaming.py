"""Structured Streaming ingest tests: incremental processing with
exactly-once file-source checkpointing."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from lexmapr_spark import engine, streaming
from lexmapr_spark.pages import load_corpus, synth_pages


@pytest.fixture(scope="module")
def spark():
    s = engine.build_spark(cpus=4, app="streaming_tests",
                           shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def lex_bc(spark):
    return engine.broadcast_lexicon(spark)


def test_stream_processes_files_incrementally(spark, lex_bc):
    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    out = os.path.join(base, "triples")
    ckpt = os.path.join(base, "ckpt")
    try:
        corpus = load_corpus(limit=100)
        synth_pages(spark, 200, corpus=corpus).write.parquet(landing)

        q = streaming.stream_triples(
            streaming.stream_pages(spark, landing), lex_bc, out, ckpt)
        q.awaitTermination(120)
        n1 = spark.read.parquet(out).count()
        assert n1 > 0

        # batch-equivalence: same pages through the batch path
        batch = engine.triples(engine.annotate(
            spark.read.parquet(landing), lex_bc)).count()
        assert n1 == batch

        # second wave of files: only NEW data is processed (checkpoint)
        synth_pages(spark, 100, corpus=corpus).withColumn(
            "url", F.concat(F.lit("wave2-"), F.col("url"))
        ).write.mode("append").parquet(landing)
        q2 = streaming.stream_triples(
            streaming.stream_pages(spark, landing), lex_bc, out, ckpt)
        q2.awaitTermination(120)
        n2 = spark.read.parquet(out).count()
        assert n2 > n1
        wave2 = spark.read.parquet(out).where(
            F.col("subj").startswith("wave2-")).count()
        assert n2 - n1 == wave2  # nothing from wave 1 reprocessed

        # third run with no new files: checkpoint makes it a no-op
        q3 = streaming.stream_triples(
            streaming.stream_pages(spark, landing), lex_bc, out, ckpt)
        q3.awaitTermination(120)
        assert spark.read.parquet(out).count() == n2
    finally:
        shutil.rmtree(base, ignore_errors=True)
