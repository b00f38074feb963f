"""Shared operator utilities."""

from __future__ import annotations

import threading
import warnings

from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# Scoped snapshot caches
# ---------------------------------------------------------------------------
# Operators that must read one consistent snapshot of their input
# more than once persist that snapshot (perplexity's self-built LM is
# read by the scoring join and the OOV row; pack_sequences only when
# called with snapshot=True for unpinnable/nondeterministic sources).
# A long-lived session calling such an op repeatedly would otherwise
# accumulate cached partitions without bound, because the op returns a
# lazy DataFrame and has no "after the terminal action" hook to
# unpersist at. The registry bounds that: each op registers its
# snapshot under a scope key, the NEXT call in the same scope releases
# the previous snapshot, and release_cache() frees everything on
# demand.

_LAST_CACHE: dict[str, DataFrame] = {}
_CACHE_LOCK = threading.RLock()


def scoped_persist(df: DataFrame, scope: str,
                   warn_on_evict: bool = True) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) as ``scope``'s live snapshot,
    releasing the previous snapshot registered under the same scope.

    At most ONE snapshot per scope is ever cached, so repeated calls
    in a long-lived session hold bounded executor storage. The
    registry is guarded by a lock, so concurrent sessions/threads
    can't corrupt it — though two threads sharing one SCOPE still
    evict each other's snapshots (use distinct scopes per pipeline).
    Caveat: the release forces any still-unconsumed result of the
    PREVIOUS call in the same scope to recompute from source on
    consumption — identical results unless the source mutated or the
    plan is nondeterministic in between, which is exactly the
    situation ``snapshot=True`` callers care about, so the eviction
    is WARNED (suppress with ``warn_on_evict=False`` once the earlier
    result is known consumed); interleave calls against a mutating
    source with :func:`release_cache` discipline instead."""
    with _CACHE_LOCK:
        if warn_on_evict and scope in _LAST_CACHE:
            warnings.warn(
                f"scoped_persist: evicting the previous '{scope}' "
                "snapshot — any still-unconsumed DataFrame from the "
                "earlier call will recompute from source (a mutating "
                "or nondeterministic source then yields DIFFERENT "
                "rows). Consume or release_cache() earlier results "
                "first, or pass warn_on_evict=False to acknowledge.",
                stacklevel=2)
        release_cache(scope)
        cached = df.persist()
        _LAST_CACHE[scope] = cached
        return cached


def release_cache(scope: str | None = None) -> None:
    """Unpersist the snapshot cached under ``scope`` (or every scope
    when None). Safe to call at any time; consumers of already-
    returned DataFrames simply recompute from source."""
    with _CACHE_LOCK:
        keys = [scope] if scope is not None else list(_LAST_CACHE)
        for k in keys:
            df = _LAST_CACHE.pop(k, None)
            if df is not None:
                try:
                    df.unpersist(blocking=False)
                except Exception:
                    pass  # session already stopped; nothing to release


def fan_out(df: DataFrame, min_partitions: int | None = 0) -> DataFrame:
    """Round-robin repartition a too-coarse input so CPU-bound stages
    use the whole cluster (``engine.annotate``'s auto fan-out too).

    A single parquet file scans as ONE partition -> one task -> one
    core; real 100 TB inputs arrive with thousands of splits and skip
    this (the repartition only fires when the input has fewer
    partitions than the session's default parallelism). Pass ``None``
    to forbid the shuffle entirely.
    """
    if min_partitions is None or df.isStreaming:
        # streaming DataFrames have no .rdd and get their parallelism
        # from the source trigger; leave them untouched
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
