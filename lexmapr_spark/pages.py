"""Deterministic synthetic Common-Crawl-style pages table.

Schema per the driver contract (``BASELINE.json`` ``input_hint``):
``(url: string, warc_ts: timestamp, html: binary, text: string,
lang: string)``. Texts cycle through the reference's realistic sample
corpora (``lexmapr/tests/test_input/*.csv``, copied to
``tests/golden/input``) so the matcher produces a realistic match-tier
mix; URLs carry Zipfian head-domain skew to exercise salting/AQE.

Everything is generated distributed from ``spark.range`` — no driver
materialization — so the same generator scales from 5-row unit tests
to bench-size tables.
"""

from __future__ import annotations

import csv
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GOLDEN_INPUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "tests", "golden", "input")

# Realistic description corpora shipped with the reference (unused by
# its unit suite; recommended as seed content by FIXTURES.md §2).
CORPUS_FILES = (
    "enteroForFreq.csv",
    "zheminSamples.csv",
    "genomeTrackerMaster.csv",
    "GRDI-UniqueSamples.csv",
    "bccdcsample.csv",
)

_HTML_PRE = "<html><body><p>"
_HTML_POST = "</p></body></html>"


def load_corpus(limit: int | None = None) -> list[str]:
    """Space-joined sample descriptions from the realistic corpora."""
    texts: list[str] = []
    for name in CORPUS_FILES:
        path = os.path.join(GOLDEN_INPUT_DIR, name)
        if not os.path.exists(path):
            continue
        with open(path, newline="", errors="replace") as fr:
            reader = csv.reader(fr)
            next(reader, None)
            for row in reader:
                desc = " ".join(row[1:]).strip()
                if desc:
                    texts.append(desc)
        if limit and len(texts) >= limit:
            return texts[:limit]
    if not texts:
        # fallback when fixture CSVs aren't on disk (e.g. the package
        # was imported from a --py-files zip): a tiny embedded corpus
        texts = ["Chicken Breast", "Baked Potato", "Canned Corn",
                 "Frozen Yogurt", "Apple Pie", "gastric vein",
                 "Salmonella enterica pork shoulder", "banana leaf",
                 "proximal phalanx tissue swab", "mixed salad greens"]
    return texts


def synth_pages(spark: SparkSession, n_pages: int, n_domains: int = 1000,
                corpus: list[str] | None = None,
                sentences_per_page: int = 1) -> DataFrame:
    """Deterministic pages DataFrame of ``n_pages`` rows.

    Domain skew: domain rank = floor(n_domains ** u) with u
    hash-uniform in [0,1) -> p(rank) ~ 1/rank (Zipf-1), so the head
    domain owns ~1/ln(n_domains) of all pages.

    ``sentences_per_page`` > 1 concatenates several corpus
    descriptions per page (period-joined) — closer to real web-page
    text sizes and exercising the >=15-token contiguous-n-gram path.
    """
    corpus = corpus or load_corpus()
    if sentences_per_page > 1:
        n = len(corpus)
        corpus = [
            ". ".join(corpus[(i * 7 + j) % n]
                      for j in range(sentences_per_page))
            for i in range(n)
        ]
    texts_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "text_id BIGINT, text STRING")

    base = spark.range(n_pages)
    # deterministic hash-uniform in [0, 1): Knuth multiplicative
    u = (F.col("id") * F.lit(2654435761)) % F.lit(2**32) / F.lit(float(2**32))
    df = (
        base
        .withColumn("domain", F.floor(F.pow(F.lit(float(n_domains)), u)).cast("long"))
        .withColumn("text_id", F.col("id") % F.lit(len(corpus)))
        .join(F.broadcast(texts_df), "text_id")
        .select(
            F.concat(F.lit("https://host"), F.col("domain"),
                     F.lit(".example/p/"), F.col("id")).alias("url"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("warc_ts"),
            F.encode(F.concat(F.lit(_HTML_PRE), F.col("text"),
                              F.lit(_HTML_POST)), "UTF-8").alias("html"),
            F.col("text"),
            F.when(F.col("id") % 37 == 0, F.lit("de"))
             .otherwise(F.lit("en")).alias("lang"),
        )
    )
    return df


def extract_text(pages: DataFrame) -> DataFrame:
    """Byte-identical text extraction from the html column.

    The per-row invariant required by the driver contract: the
    extracted text must equal the ``text`` column byte-for-byte. Done
    JVM-side (one regexp over the decoded html) — no Python.
    """
    extracted = F.regexp_extract(
        F.decode(F.col("html"), "UTF-8"), r"<p>(.*)</p>", 1)
    return pages.withColumn("extracted_text", extracted)
