"""Structured Streaming ingest: pages arriving as files -> triples.

The reference is batch-only (SURVEY §2.8); this is the engine's
incremental-ingest extension for a continuously-crawled pages table:
``readStream`` over the landing directory -> the SAME broadcast-lexicon
annotate stage (``mapInPandas`` works unchanged on streaming
DataFrames) -> append-mode triple sink with exactly-once file-source
checkpointing. A killed stream resumes from the checkpoint without
reprocessing completed files — the streaming counterpart of the batch
bucket manifest in ``engine.run_with_checkpoint``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
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


def windowed_event_counts(spark: SparkSession, input_dir: str, out_dir: str,
                          checkpoint_dir: str, window: str = "1 hour",
                          watermark: str = "30 minutes",
                          available_now: bool = True):
    """Watermarked tumbling-window aggregation over an event stream.

    The late-data pattern: events later than ``watermark`` behind the
    max seen ts are dropped; append mode emits a window only once it
    can no longer receive late rows, so the sink is insert-only (safe
    for downstream incremental consumers). State is bounded by the
    watermark — the requirement for unbounded streams.
    """
    from pyspark.sql.types import LongType, DoubleType
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    events = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "4").parquet(input_dir))
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "event_type", "n")
    )
    writer = (agg.writeStream.format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_events(spark: SparkSession, input_dir: str, out_dir: str,
                      checkpoint_dir: str, gap_seconds: int = 1800,
                      available_now: bool = True):
    """Custom stateful operator: per-user sessionization via
    ``applyInPandasWithState``.

    State per user = (sessions_so_far, last_event_epoch); an event more
    than ``gap_seconds`` after the previous one opens a new session.
    State survives micro-batches (verified cross-batch in tests), which
    is the capability built-in windowing can't express — session
    boundaries depend on per-key history, not wall-clock windows.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import DoubleType, LongType

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    out_type = "user_id LONG, event_id LONG, session_id LONG"
    state_type = "sessions LONG, last_epoch DOUBLE"

    def assign_sessions(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            # no events within the expiry horizon: drop the state row
            # (bounded state on unbounded streams)
            state.remove()
            return
        sessions, last_epoch = state.get if state.exists else (0, None)
        # a group may arrive as several Arrow chunks; session
        # assignment is order-dependent, so sort the WHOLE group once
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks).sort_values("ts")
            session_ids = []
            for ts in pdf["ts"]:
                epoch = ts.timestamp()
                if last_epoch is None or epoch - last_epoch > gap_seconds:
                    sessions += 1
                last_epoch = epoch
                session_ids.append(sessions)
            yield pd.DataFrame({
                "user_id": [key[0]] * len(pdf),
                "event_id": pdf["event_id"].to_numpy(),
                "session_id": session_ids,
            })
        state.update((sessions, last_epoch))
        # expire idle users after 4 gaps of processing-time silence
        state.setTimeoutDuration(4 * gap_seconds * 1000)

    events = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(input_dir))
    sessions = (
        events.groupBy("user_id")
        .applyInPandasWithState(assign_sessions, out_type, state_type,
                                "update",
                                GroupStateTimeout.ProcessingTimeTimeout)
    )

    def write_batch(batch_df, _batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    writer = (sessions.writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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


def stream_deduped_pages(pages_stream, out_dir: str, checkpoint_dir: str,
                         watermark: str = "1 hour",
                         available_now: bool = True):
    """Bounded-state streaming ingest dedup.

    ``dropDuplicatesWithinWatermark`` keeps a key's state only until
    the event-time watermark passes it, so re-crawled/duplicated pages
    arriving within ``watermark`` of each other are emitted once and
    the state store cannot grow unboundedly — the requirement for an
    always-on 10^12-row ingest. (A plain streaming ``dropDuplicates``
    would accumulate one state entry per key forever.) The dedup key
    is the page content hash + url, so byte-identical re-fetches are
    suppressed but genuine content changes pass through.
    """
    from pyspark.sql import functions as F

    deduped = (
        pages_stream
        .withColumn("content_md5", F.md5(F.coalesce("text", F.lit(""))))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url", "content_md5"])
        .select("url", "warc_ts", "text", "lang")
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_curated_pages(pages_stream, out_dir: str, checkpoint_dir: str,
                         min_quality: float = 0.3, lang: str = "en",
                         blocked_hosts: list | tuple | None = None,
                         max_dup_word_frac: float | None = None,
                         available_now: bool = True):
    """Streaming curation: URL-blocklist gate + language gate +
    quality gate + optional repetition gate + PII scrub — the
    STATELESS prefix of ``textstats.curate`` on an unbounded page
    stream. The blocklist and quality gates are pure-JVM sibling
    expressions in one projection; the optional repetition gate
    (``max_dup_word_frac``, Gopher rule) adds the per-row Arrow stage
    from ``repetition_stats`` — still stateless and shuffle-free, so
    the checkpoint holds only source offsets; the stateful stages stay
    where bounded state lives (fingerprint/url dedup ->
    ``stream_deduped_pages``' watermark-bounded dedup, global dedup ->
    periodic batch compaction over the sink, exactly like
    ``stream_triples``' dedup note).
    """
    from lexmapr_spark.ops.textstats import (
        PII_PATTERNS,
        _lang_pred_col,
        _quality_cols,
    )

    if blocked_hosts:
        # shared predicate with the batch filter — suffix semantics
        # and null handling live in ONE place (ops/web.py)
        from lexmapr_spark.ops.web import blocked_host_cond, host_col
        pages_stream = pages_stream.where(
            ~blocked_host_cond(host_col("url"), blocked_hosts))

    qc = _quality_cols("text")
    redacted = F.col("text")
    for name, pat in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    gated = (
        pages_stream
        .withColumn("lang_pred", _lang_pred_col("text"))
        .withColumn("quality", F.round(qc["quality"], 6))
        .where((F.col("lang_pred") == lang)
               & (F.col("quality") >= min_quality))
    )
    if max_dup_word_frac is not None:
        # gate on the RAW text, before redaction — `textstats.curate`
        # parity (redacting first would collapse every PII hit into
        # one repeated token and inflate the duplicate-word fraction)
        from lexmapr_spark.ops.textstats import repetition_stats_col
        gated = (gated
                 .withColumn("dup_word_frac",
                             repetition_stats_col("text")
                             .getField("dup_word_frac"))
                 .where(F.col("dup_word_frac") <= max_dup_word_frac))
    curated = gated.select(
        "url", "warc_ts", redacted.alias("text"), "lang_pred", "quality",
        *(["dup_word_frac"] if max_dup_word_frac is not None else []))
    writer = (
        curated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_perplexity_pages(pages_stream, lm, out_dir: str,
                            checkpoint_dir: str,
                            max_perplexity: float | None = None,
                            available_now: bool = True):
    """Score an unbounded page stream against a PRE-BUILT unigram LM
    (``ops.textstats.unigram_lm`` output, typically reloaded from
    parquet) and optionally gate on perplexity — the CCNet-style
    streaming quality filter.

    Per-document scoring needs no cross-batch state: every page
    arrives as ONE row and its per-url token aggregation completes
    inside the micro-batch, so the batch twin runs verbatim under
    ``foreachBatch`` (a bare streaming ``groupBy`` would demand
    watermarked state the semantics don't need) and the checkpoint
    stays offsets-only. The static LM broadcasts into each batch's
    token join. OOV tokens score ``ln(1/(total+1))``, exactly like
    the batch twin (``ops.textstats.perplexity``), with which the
    output is pinned equal by test.
    """
    from pyspark.sql import functions as F

    from lexmapr_spark.ops.textstats import perplexity

    def write_batch(batch_df, batch_id):
        scored = perplexity(batch_df, lm=lm, id_col="url",
                            text_col="text", broadcast_lm=True)
        if max_perplexity is not None:
            scored = scored.where(F.col("perplexity") <= max_perplexity)
        # idempotent replay: each micro-batch owns its batch_id=N/
        # partition (the sink is partitioned parquet — consumers read
        # the extra batch_id column), so a batch reprocessed after a
        # crash-before-checkpoint overwrites its own rows instead of
        # appending duplicates. The overwrite mode is a PER-WRITE
        # option, never a session-global conf flip (which would race
        # concurrent writers in the same SparkSession).
        (scored.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(out_dir))

    writer = (
        pages_stream.select("url", "text").writeStream
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_bm25_matches(pages_stream, index_path: str,
                        query_terms: list[str], out_dir: str,
                        checkpoint_dir: str, min_score: float = 0.0,
                        k1: float = 1.2, b: float = 0.75,
                        n_buckets: int = 64,
                        available_now: bool = True):
    """Standing-query BM25 routing over an unbounded page stream:
    every arriving page is scored against a fixed query and kept when
    ``score >= min_score`` — the alerting / topic-routing shape of the
    retrieval family.

    Corpus statistics (N, avgdl, per-term df) are FROZEN from a stored
    :func:`lexmapr_spark.ops.search.build_bm25_index` — read ONCE at
    stream setup (two bounded driver actions, partition-pruned), then
    inlined as literals, so scoring is a pure per-row projection:
    no cross-batch state, no per-batch index rescan, offsets-only
    checkpoint, and a page scores identically whichever micro-batch it
    lands in. The batch twin (``bm25_score_static`` on the same rows
    with the same stats) is pinned equal by test.
    """
    from lexmapr_spark.ops.search import bm25_index_stats, bm25_score_static

    spark = pages_stream.sparkSession
    stats = bm25_index_stats(spark, index_path, query_terms,
                             n_buckets=n_buckets)

    def write_batch(batch_df, batch_id):
        scored = (bm25_score_static(batch_df, query_terms, stats,
                                    k1=k1, b=b, id_col="url",
                                    text_col="text")
                  .where(F.col("score") >= min_score))
        # idempotent replay: each micro-batch owns its batch_id=N/
        # partition; overwrite mode is a per-write option (see
        # stream_perplexity_pages)
        (scored.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(out_dir))

    writer = (
        pages_stream.select("url", "text").writeStream
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_index_deduped_pages(pages_stream, index, out_dir: str,
                               checkpoint_dir: str,
                               threshold: float = 0.5,
                               available_now: bool = True):
    """Cross-run dedup as a continuous ingest gate: drop arriving
    pages already represented — exactly or nearly — in a STATIC
    stored :func:`lexmapr_spark.ops.dedup.minhash_index` (e.g. last
    month's indexed crawl read back from parquet).

    Same screens as the batch twin
    (:func:`~lexmapr_spark.ops.dedup.dedup_against_index`), re-shaped
    for unbounded input so everything is STATELESS:

    - signatures come from per-row ``array_min``/``transform`` HOFs
      over the shingle array (bit-identical minima to the batch op's
      explode + ``min`` aggregate, since both minimize the same md5
      set per document) — no streaming aggregation, no watermark;
    - the exact screen is one stream-static LEFT ANTI join on
      ``md5(text)``;
    - the near screen is one stream-static LEFT ANTI join per LSH
      band (band-key equality + signature-estimated Jaccard >=
      ``threshold`` in the join condition) — a page survives only if
      NO band bucket holds a close-enough indexed signature, which is
      exactly the batch op's "any band hit drops" without the
      stream-side self-anti-join that streaming cannot express.

    The checkpoint therefore stays offsets-only. At index scale,
    store the index bucketed/sorted by band key so each micro-batch's
    joins prune instead of rescanning; intra-stream re-fetch dedup is
    :func:`stream_deduped_pages`' watermark-bounded job, composable
    upstream of this gate.
    """
    from lexmapr_spark.ops.dedup import (
        N_MINHASHES,
        ROWS_PER_BAND,
        band_key_exprs,
        minhash_token_hash,
        shingles_col,
    )

    n_hashes, rpb = N_MINHASHES, ROWS_PER_BAND
    n_bands = n_hashes // rpb
    sh = shingles_col("text")

    def _mh(j: int):
        # factory closure, NOT `lambda t, j=j`: a two-parameter lambda
        # makes pyspark's transform() bind the second arg to the
        # ELEMENT INDEX column (silently shadowing the default), which
        # corrupts the hash prefix for every element. The per-token
        # hash itself is dedup.minhash_token_hash — the SAME
        # expression minhash_index stores, so signatures stay
        # byte-identical to the index by construction.
        return F.array_min(
            F.transform(sh, lambda t: minhash_token_hash(t, j))
        ).alias(f"mh{j}")

    mh_cols = [_mh(j) for j in range(n_hashes)]
    # md5(text) WITHOUT coalesce — the batch twin (dedup_against_index
    # via minhash_index) hashes raw text, so a NULL-text page gets a
    # NULL key and survives the exact screen on both paths identically
    enriched = pages_stream.select(
        "url", "warc_ts", "text", "lang",
        F.md5(F.col("text")).alias("text_md5"), *mh_cols)
    band_cols = [
        c.alias(f"band{b}") for b, c in enumerate(band_key_exprs(
            lambda j: F.col(f"mh{j}"), n_hashes, rpb))
    ]
    enriched = enriched.select("*", *band_cols)

    from lexmapr_spark.ops.util import scoped_persist

    # both static index projections are persisted: the md5 screen and
    # the four per-band anti-joins reference them every micro-batch,
    # so uncached the index parquet would be rescanned 5x per batch
    # for the stream's lifetime. The scope derives from the gate's
    # checkpoint dir (one scope PER GATE, r6 ADVICE): two concurrent
    # gates in one session — necessarily distinct checkpoints — no
    # longer evict each other's snapshots every invocation, while a
    # RESTART of the same gate (same checkpoint) still replaces its
    # own. release_cache matches exact scope keys (no globbing) — to
    # free both snapshots after the query stops, release the two real
    # keys: release_cache(f"stream_index_gate:{checkpoint_dir}:md5")
    # and release_cache(f"stream_index_gate:{checkpoint_dir}:bands").
    # NULL-signature index rows are
    # dropped before banding (same hot-bucket hazard as the batch op:
    # every empty doc shares the md5("") band key).
    scope = f"stream_index_gate:{checkpoint_dir}"
    md5_side = scoped_persist(index.select("text_md5").distinct(),
                              f"{scope}:md5",
                              warn_on_evict=False)
    out = enriched.join(md5_side, "text_md5", "left_anti")
    stacked = scoped_persist(
        index
        .where(F.col("mh0").isNotNull())
        .select(*[F.col(f"mh{j}").alias(f"imh{j}")
                  for j in range(n_hashes)],
                F.explode(F.array(*band_key_exprs(
                    lambda j: F.col(f"mh{j}"), n_hashes, rpb)))
                .alias("band_key"))
        .distinct(),
        f"{scope}:bands", warn_on_evict=False)
    est = sum(
        F.when(F.col(f"mh{j}") == F.col(f"imh{j}"), 1).otherwise(0)
        for j in range(n_hashes)) / F.lit(float(n_hashes))
    for b in range(n_bands):
        out = out.join(
            stacked,
            (F.col(f"band{b}") == F.col("band_key"))
            & (est >= F.lit(threshold)),
            "left_anti")
    result = out.select("url", "warc_ts", "text", "lang")
    writer = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_asof_joined(left_stream, right_static, key_cols,
                       out_dir: str, checkpoint_dir: str,
                       time_col: str = "ts",
                       payload_cols: list | None = None,
                       tiebreak_col: str | None = None,
                       direction: str = "backward",
                       tolerance: float | None = None,
                       allow_exact_matches: bool = True,
                       available_now: bool = True):
    """Streaming as-of enrichment against a STATIC right side: every
    arriving left row gets the latest (or, ``forward``, earliest;
    ``nearest``, closest-by-|delta|) right row at-or-before (-after)
    its timestamp, per key — e.g. a live purchase stream stamped with
    the most recent click from a reference click table. ``tolerance``
    and ``allow_exact_matches`` pass through to the batch operator
    unchanged (merge_asof semantics).

    Scope is deliberately stream-static: because the right side is
    fixed, a left row's match never changes once computed, so no
    cross-batch state is needed — the batch operator
    (``ops.joins.asof_join``, union + running-window form) runs
    VERBATIM inside ``foreachBatch`` and the checkpoint stays
    offsets-only, the same twin pattern as the other streaming ops. A
    stream-STREAM as-of (late right rows revising earlier matches)
    would need watermarked state and retraction semantics the sink
    contract here (append-only parquet) cannot express; that variant
    is out of scope and documented as such.

    Cost note: each micro-batch unions the batch's left rows with the
    FULL right side and windows per key, so per-batch cost is one
    right-side shuffle — ``.persist()`` the right DataFrame for
    many-batch streams. Idempotent replay via per-batch dynamic
    partition overwrite, as in the other foreachBatch twins.
    """
    from lexmapr_spark.ops.joins import asof_join

    def write_batch(batch_df, batch_id):
        joined = asof_join(batch_df, right_static, key_cols,
                           time_col=time_col, payload_cols=payload_cols,
                           tiebreak_col=tiebreak_col, direction=direction,
                           tolerance=tolerance,
                           allow_exact_matches=allow_exact_matches)
        (joined.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(out_dir))

    writer = (
        left_stream.writeStream
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
