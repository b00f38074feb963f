"""Structured Streaming ingest: pages arriving as files -> triples.

This is the KG path's only streaming form; everything else in the
engine is batch. The reference is batch-only (SURVEY §2.8); this is
the engine's incremental-ingest extension for a continuously-crawled
pages table: ``readStream`` over the landing directory -> the SAME
broadcast-lexicon annotate stage (``mapInPandas`` works unchanged on
streaming DataFrames) -> append-mode triple sink with exactly-once
file-source checkpointing. A killed stream resumes from the checkpoint
without reprocessing completed files — the streaming counterpart of
the batch bucket manifest in ``engine.run_with_checkpoint``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from lexmapr_spark import engine

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def stream_pages(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int = 8):
    """File-source stream over a pages landing directory."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )


def stream_triples(pages_stream, lex_bc, out_dir: str, checkpoint_dir: str,
                   available_now: bool = True):
    """pages stream -> dedup-per-batch triples, append sink.

    Dedup note: ``dropDuplicates`` on an unbounded stream needs state;
    we dedup within each micro-batch (url#mention x obj repeats only
    within a page), which keeps the operator stateless — at 10^12-row
    scale a global dedup belongs in a periodic batch compaction over
    the sink table, not in stream state.
    """
    mentions = engine.annotate(pages_stream, lex_bc, min_partitions=None,
                               fields=engine.TRIPLE_FIELDS)
    triples = engine.triples_projection(mentions)

    def write_batch(batch_df, _batch_id):
        # per-batch dedup keeps the stream stateless (a bare streaming
        # dropDuplicates would accumulate unbounded key state)
        (batch_df.dropDuplicates(["subj", "pred", "obj"])
         .write.mode("append").parquet(out_dir))

    writer = (
        triples.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
