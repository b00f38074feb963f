"""Temporal join operators Spark lacks natively: as-of join and
range (interval-containment) join.

Both are expressed as compositions of built-in DataFrame ops — one
shuffle each, no UDFs, no driver-side loops — per the engine's
Spark-first rule. The reference engine (LexMapr) has no temporal
joins at all; these serve the event-analytics side of the query
surface (`events` table) the way published stream/batch engines do
(Flink temporal joins, kdb aj, Pandas merge_asof).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["asof_join", "range_join", "range_count_sum",
           "derive_bucket_seconds"]

# Internal staging names the union-window construction creates via
# select; an input KEY or time column with one of these names (or the
# left-column rename prefix) would produce duplicate/ambiguous
# attributes mid-plan, so reject up front (r7 ADVICE).
_ASOF_RESERVED = frozenset({"_t", "_side", "_tie", "_p", "_f_p",
                            "_b", "_f", "_w",
                            "_sb", "_cbi", "_cfi", "_cbp", "_cfn"})
_ASOF_LEFT_PREFIX = "_l_"


def _contains_map(dtype) -> bool:
    """True when ``dtype`` nests a MapType anywhere — maps are the one
    Spark type the window ORDER BY cannot sort, so a payload containing
    one cannot take part in the full-payload determinism tiebreak."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, MapType):
        return True
    if isinstance(dtype, ArrayType):
        return _contains_map(dtype.elementType)
    if isinstance(dtype, StructType):
        return any(_contains_map(f.dataType) for f in dtype.fields)
    return False


def asof_join(left: DataFrame, right: DataFrame,
              key_cols: list[str] | str,
              time_col: str = "ts",
              payload_cols: list[str] | None = None,
              tiebreak_col: str | None = None,
              direction: str = "backward",
              suffix: str = "_matched",
              tolerance: float | None = None,
              allow_exact_matches: bool = True,
              skew_buckets: int | None = None) -> DataFrame:
    """For every left row, attach the payload of the single right row
    with the greatest ``time_col`` <= the left row's (``backward``;
    ``forward`` = smallest >=; ``nearest`` = smallest absolute time
    delta, exact ties going backward — pinned to pandas
    ``merge_asof(direction="nearest")``), per key. LEFT-join
    semantics: left rows with no qualifying right row keep NULL
    payloads. NULL keys and NULL times never match on either side
    (SQL/merge_asof comparison semantics), they don't pair up with
    each other.

    Implementation is the union-window form, not a join: tag the two
    inputs, union them, and take ``last(payload, ignorenulls=True)``
    over a running window ordered by (time, side, tiebreak) within
    each key — one shuffle on the key, no per-key loops, no range
    self-join blowup. ``nearest`` adds a second frame (``first`` over
    the following rows) over the SAME partitioning and sort — still
    one shuffle — and picks the per-row winner by absolute delta. At
    equal timestamps the right row sorts BEFORE the left row, so a
    tick at exactly the query time matches in all directions
    (inclusive); among right rows tied on time the largest
    ``tiebreak_col`` wins (backward) / smallest (forward/nearest-
    forward-leg).

    Determinism: when the payload contains no MapType anywhere, the
    full payload struct is the final ORDER BY tiebreaker, so the
    result is deterministic even when ``(key, time, tiebreak)`` is
    not unique on the right side. Map-typed payloads cannot be sorted
    by Spark — there the caller must keep ``(key, time,
    tiebreak_col)`` unique on the right for a deterministic pick.

    100-TB posture: cost is one repartition by key + an in-partition
    sort — the same shape as any windowed aggregation; skewed keys are
    AQE's problem, not a new one. Equivalent to Pandas ``merge_asof``
    / DuckDB ``ASOF JOIN``, but with the tie rule pinned.

    ``payload_cols``: right columns to attach (default: all right
    columns except keys and time), each renamed with ``suffix``.
    ``tiebreak_col``: right column ordering ties on time (default:
    first payload column).
    ``tolerance``: like pandas merge_asof — a match is kept only if
    |left time − matched time| <= tolerance (SECONDS for timestamp
    columns, the column's own units for numeric ones); beyond it the
    payload is NULL. Applied post-fill with the same exact-integer
    microsecond arithmetic as ``nearest``, so the cost is a
    projection, not a new shuffle.
    ``allow_exact_matches``: False makes the comparison strict
    (``<`` / ``>``), again per merge_asof — implemented purely by
    flipping which side sorts first at equal timestamps (the
    ``nearest`` strict variant needs a second in-partition sort for
    its forward leg; still ONE exchange).
    ``skew_buckets``: hot-key pre-split (r9, guide §2.5). AQE's skew
    split applies only to JOINS — this operator's window can never be
    split at runtime, so a single pathological key (more rows than
    one executor partition) serializes in one task. Passing ``B >= 2``
    sub-buckets every key's rows into ``B`` contiguous time ranges
    (width from one bounded eager min/max pass over both sides), runs
    the identical union-window per ``(key, sub-bucket)``, and restores
    cross-bucket visibility with a carry pass: per (key, bucket) the
    last right row under the backward sort / first under the forward
    sort is aggregated (lexicographic struct min/max reproducing the
    window's exact null-ordering tie rules), a tiny per-key window
    over the B bucket summaries computes each bucket's
    carried-in row, and rows whose in-bucket fill is NULL take the
    carry. Row-identical to the unsplit path for every direction x
    strictness x tolerance cell (pinned by the skew differential
    grid); cross-bucket rows are always strictly earlier/later in
    time, so strictness and tie rules stay purely in-bucket. Requires
    an orderable payload (no MapType anywhere — the carry aggregation
    sorts payload structs exactly like the window's final
    tiebreaker). Costs one aggregate over the unioned frame + a
    bucket-summary window + one (key, bucket) join; leave it None
    unless a key-frequency probe says one key holds more rows than a
    healthy partition.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"asof_join: unknown direction {direction!r} "
            "(expected 'backward', 'forward' or 'nearest')")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    bad = [c for c in [*keys, time_col]
           if c in _ASOF_RESERVED or c.startswith(_ASOF_LEFT_PREFIX)]
    if bad:
        raise ValueError(
            f"asof_join: key/time column names {bad} collide with "
            "internal staging names (reserved: "
            f"{sorted(_ASOF_RESERVED)} and the '{_ASOF_LEFT_PREFIX}' "
            "prefix); rename before joining")
    if tolerance is not None and tolerance <= 0:
        raise ValueError("asof_join: tolerance must be positive")
    carry_mt = direction == "nearest" or tolerance is not None
    if carry_mt and "_w" in left.columns:
        raise ValueError("asof_join: left column '_w' collides with an "
                         "internal staging name; rename before joining")
    if payload_cols is None:
        payload_cols = [c for c in right.columns
                        if c not in keys and c != time_col]
    if not payload_cols:
        raise ValueError("asof_join: right side has no payload columns")
    if tiebreak_col is None:
        tiebreak_col = payload_cols[0]

    out_cols = [f"{c}{suffix}" for c in payload_cols]
    left_cols = set(left.columns)
    clash = [c for c in out_cols if c in left_cols]
    if clash:
        raise ValueError(f"asof_join: output columns {clash} already "
                         "exist on the left side; pick another suffix")

    # The payload travels as ONE struct, not per-column (r7 review
    # fix): per-column last(ignorenulls) fills would tear rows — a
    # matched right row's genuinely-NULL payload value would be
    # backfilled from an OLDER right row, and a right row whose
    # payload columns were all NULL would be skipped entirely. A
    # struct literal is non-null whenever the right ROW exists, so
    # one fill picks the whole matched row atomically, exactly like
    # pandas merge_asof / SQL ASOF JOIN.
    payload_struct = F.struct(*[
        F.col(c).alias(o) for c, o in zip(payload_cols, out_cols)])
    payload_type = right.select(payload_struct.alias("_p")).schema["_p"] \
        .dataType
    # nearest (and any tolerance check) needs the matched row's own
    # time to compute the delta, so the carried struct wraps
    # (match time, payload)
    if carry_mt:
        carried = F.struct(F.col(time_col).alias("_mt"),
                           payload_struct.alias("_pp"))
        carried_type = right.select(carried.alias("_p")).schema["_p"] \
            .dataType
    else:
        carried, carried_type = payload_struct, payload_type

    # exact-integer microsecond deltas for timestamps: a double cast
    # carries ~0.2 µs representation error at current epochs, enough
    # to flip a near-tie (and break the pinned backward-on-tie rule
    # for exact ties); numeric time columns pass through as double
    from pyspark.sql.types import TimestampNTZType, TimestampType
    _tdtype = left.schema[time_col].dataType
    if carry_mt and isinstance(_tdtype, TimestampNTZType):
        # NTZ -> TIMESTAMP goes through the SESSION time zone; in a
        # DST-observing zone the wall-clock->epoch map is non-affine
        # around transitions and the nearest/tolerance deltas would be
        # silently wrong (e.g. a spring-forward hour shrinks a forward
        # delta by 60 min). Only fixed-offset sessions are safe; the
        # engine's build_spark pins UTC, but asof_join is public —
        # fail loudly for anything else.
        tz = left.sparkSession.conf.get("spark.sql.session.timeZone")
        fixed = (tz in ("UTC", "GMT", "Z", "Etc/UTC", "Etc/GMT", "UT")
                 or tz.startswith(("+", "-", "GMT+", "GMT-", "Etc/GMT")))
        if not fixed:
            # r8 ADVICE: the prefix allowlist rejected genuinely
            # fixed-offset ids ('EST', 'UTC+05:30', ...). Ask the
            # JVM's own zone rules — the same resolution Spark applies
            # to the session zone (ZoneId.of with SHORT_IDS) — whether
            # the zone has transitions; any failure keeps fail-loud.
            try:
                jvm = left.sparkSession._jvm
                fixed = bool(
                    jvm.java.time.ZoneId
                    .of(tz, jvm.java.time.ZoneId.SHORT_IDS)
                    .getRules().isFixedOffset())
            except Exception:
                fixed = False
        if not fixed:
            raise ValueError(
                "asof_join: nearest/tolerance over a TIMESTAMP_NTZ "
                f"column requires a fixed-offset session time zone "
                f"(got {tz!r}); set spark.sql.session.timeZone=UTC or "
                "cast the column to TIMESTAMP yourself")

    def _num(col):
        if isinstance(_tdtype, TimestampType):
            return F.unix_micros(col)
        if isinstance(_tdtype, TimestampNTZType):
            # fixed-offset session (validated above): NTZ -> TZ is an
            # exact bijection and unix_micros stays integer
            return F.unix_micros(col.cast("timestamp"))
        return col.cast("double")

    # tolerance is SECONDS for timestamp columns (scaled to the same
    # integer microseconds as the deltas), column units otherwise
    tol_units = None
    if tolerance is not None:
        tol_units = (F.lit(int(round(tolerance * 1_000_000)))
                     if isinstance(_tdtype, (TimestampType,
                                             TimestampNTZType))
                     else F.lit(tolerance))
    # NULL semantics pinned to merge_asof / SQL ASOF JOIN: a NULL key
    # or NULL time NEVER matches. Spark's window would group NULL keys
    # into one partition (NULL-key lefts matching NULL-key rights) and
    # a NULL-time left row sorts last under the forward ordering
    # (desc = nulls last) where it would wrongly see every right row —
    # so BOTH sides split their predetermined non-matches off before
    # the union: right ones are dropped outright (they can match
    # nothing), left ones bypass the shuffle+window entirely and union
    # back with NULL payloads at the end (an anonymous-traffic-heavy
    # left table would otherwise funnel every NULL-key row through one
    # straggler NULL partition just to compute a known answer).
    null_cond = None
    for k in [*keys, time_col]:
        c = F.col(k).isNull()
        null_cond = c if null_cond is None else null_cond | c
    right_valid = right.where(~null_cond)
    left_valid = left.where(~null_cond)
    left_bypass = left.where(null_cond).select(
        *left.columns,
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in payload_type.fields])
    # side 0 = right (sorts first at equal time -> inclusive match)
    r_tagged = right_valid.select(
        *[F.col(k) for k in keys],
        F.col(time_col).alias("_t"),
        F.lit(0).alias("_side"),
        F.col(tiebreak_col).alias("_tie"),
        carried.alias("_p"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
          for c in left.columns],
    )
    l_tagged = left_valid.select(
        *[F.col(k) for k in keys],
        F.col(time_col).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(right.schema[tiebreak_col].dataType).alias("_tie"),
        F.lit(None).cast(carried_type).alias("_p"),
        *[F.col(c).alias(f"_l_{c}") for c in left.columns],
    )
    # full-payload final tiebreaker (when sortable) makes the pick
    # deterministic even for right rows tied on (key, time, tiebreak).
    # Inclusive matches (allow_exact_matches, the default) come from
    # the RIGHT side sorting first at equal time (_side asc: 0 < 1);
    # strict matches flip that (_side desc), so the running fill never
    # sees an equal-time right row — the comparison operator itself
    # never appears, only sort position.
    orderable = not _contains_map(payload_type)

    def _order(t_asc: bool, side_asc: bool) -> list:
        # one definition of the sort layout: time direction drives the
        # tie/payload directions; side direction encodes exact-match
        # inclusivity (right-first = inclusive)
        cols = [F.col("_t").asc() if t_asc else F.col("_t").desc(),
                F.col("_side").asc() if side_asc else F.col("_side").desc(),
                F.col("_tie").asc_nulls_first() if t_asc
                else F.col("_tie").desc_nulls_first()]
        if orderable:
            cols.append(F.col("_p").asc_nulls_first() if t_asc
                        else F.col("_p").desc_nulls_first())
        return cols

    # backward and nearest share the ascending layout
    order = _order(t_asc=direction != "forward",
                   side_asc=allow_exact_matches)
    unioned = r_tagged.unionByName(l_tagged)
    part_cols: list = list(keys)
    carry = None
    if skew_buckets is not None:
        if not isinstance(skew_buckets, int) or skew_buckets < 2:
            raise ValueError("asof_join: skew_buckets must be an int "
                             ">= 2")
        if not orderable:
            raise ValueError(
                "asof_join: skew_buckets requires an orderable payload "
                "(no MapType) — the carry pass aggregates rows by the "
                "window's full sort key, payload struct included")
        # bucket width from one bounded eager pass (same precedent as
        # range_join auto mode); empty/degenerate inputs collapse to a
        # single bucket, which is exactly the unsplit behavior
        srow = unioned.agg(
            F.min(_num(F.col("_t"))).alias("t0"),
            F.max(_num(F.col("_t"))).alias("t1")).collect()[0]
        t0 = int(srow["t0"]) if srow["t0"] is not None else 0
        t1 = int(srow["t1"]) if srow["t1"] is not None else 0
        width = max(1, (t1 - t0) // skew_buckets + 1)
        unioned = unioned.withColumn(
            "_sb", F.floor((_num(F.col("_t")) - F.lit(t0))
                           / F.lit(width)).cast("long"))
        part_cols = [*keys, "_sb"]
        # per-(key, bucket) pick of the right row the NEXT buckets
        # would have filled from: lexicographic struct max/min
        # reproduces the window's (time, side, tie, payload) order —
        # backward's asc_nulls_first tie rule matches struct-max
        # directly (NULL sorts smallest), forward's desc_nulls_first
        # needs the explicit is-null flag so non-null ties win the min
        bpick = F.when(F.col("_side") == 0, F.struct(
            F.col("_t").alias("t"), F.col("_tie").alias("tb"),
            F.col("_p").alias("p")))
        fpick = F.when(F.col("_side") == 0, F.struct(
            F.col("_t").alias("t"),
            F.col("_tie").isNull().alias("tn"),
            F.col("_tie").alias("tb"), F.col("_p").alias("p")))
        # grouped over ALL rows (not just right ones) so every (key,
        # bucket) the frame contains gets a carry row — a left-only
        # bucket still needs the running fill from earlier buckets
        univ = unioned.groupBy(*keys, "_sb").agg(
            F.max(bpick).alias("_cbi"), F.min(fpick).alias("_cfi"))
        wsum = Window.partitionBy(*keys).orderBy("_sb")
        carry = univ.select(
            *keys, "_sb",
            F.max("_cbi").over(
                wsum.rowsBetween(Window.unboundedPreceding, -1))
            .alias("_cbp"),
            F.min("_cfi").over(
                wsum.rowsBetween(1, Window.unboundedFollowing))
            .alias("_cfn"))
    w = Window.partitionBy(*part_cols).orderBy(*order)
    w_back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lt = _num(F.col("_t"))
    left_restore = [F.col(f"_l_{c}").alias(c) for c in left.columns]
    if direction != "nearest":
        filled = unioned.select(
            "*", F.last("_p", ignorenulls=True).over(w_back).alias("_f_p"))
        if carry is not None:
            cexpr = (F.col("_cbp").getField("p")
                     if direction == "backward"
                     else F.col("_cfn").getField("p"))
            filled = (filled.join(carry, [*keys, "_sb"], "left")
                      .withColumn("_f_p",
                                  F.coalesce(F.col("_f_p"), cexpr)))
        if tolerance is None:
            matched = (
                filled.where(F.col("_side") == 1)
                .select(*left_restore,
                        *[F.col(f"_f_p.{o}").alias(o) for o in out_cols])
            )
            return matched.unionByName(left_bypass)
        delta = (lt - _num(F.col("_f_p._mt")) if direction == "backward"
                 else _num(F.col("_f_p._mt")) - lt)
        staged = (filled.where(F.col("_side") == 1)
                  .select(*left_restore,
                          F.when(F.col("_f_p").isNotNull()
                                 & (delta <= tol_units),
                                 F.col("_f_p._pp")).alias("_w")))
        matched = staged.select(
            *left.columns,
            *[F.col(f"_w.{o}").alias(o) for o in out_cols])
        return matched.unionByName(left_bypass)
    # nearest: a backward fill and a forward fill over the SAME key
    # partitioning (the exchange is shared), then a per-row winner by
    # absolute time delta. Inclusive: one sort order serves both legs
    # — equal-ts right rows sort before the left row, landing in the
    # backward leg with delta 0 and winning any cross-side tie,
    # matching pandas merge_asof(direction="nearest") which prefers
    # the prior row on exact-distance ties (the forward frame is then
    # strictly-greater by construction). Strict (allow_exact_matches=
    # False): the backward leg keeps the flipped (_side desc) sort so
    # equal-ts rows fall out of its running frame, but the forward
    # frame under that sort would RE-ADMIT them — its leg gets its own
    # inclusive-sorted window (same partitioning: one exchange, two
    # in-partition sorts).
    w_fwd_base = w if allow_exact_matches else Window.partitionBy(
        *part_cols).orderBy(*_order(t_asc=True, side_asc=True))
    w_fwd = w_fwd_base.rowsBetween(Window.currentRow,
                                   Window.unboundedFollowing)
    filled = unioned.select(
        "*",
        F.last("_p", ignorenulls=True).over(w_back).alias("_b"),
        F.first("_p", ignorenulls=True).over(w_fwd).alias("_f"))
    if carry is not None:
        filled = (filled.join(carry, [*keys, "_sb"], "left")
                  .withColumn("_b", F.coalesce(
                      F.col("_b"), F.col("_cbp").getField("p")))
                  .withColumn("_f", F.coalesce(
                      F.col("_f"), F.col("_cfn").getField("p"))))
    d_back = lt - _num(F.col("_b._mt"))
    d_fwd = _num(F.col("_f._mt")) - lt
    b_ok = F.col("_b").isNotNull()
    f_ok = F.col("_f").isNotNull()
    if tolerance is not None:
        # per-leg validity is equivalent to nearest-then-check: if the
        # farther leg is within tolerance, the nearer one always is too
        b_ok = b_ok & (d_back <= tol_units)
        f_ok = f_ok & (d_fwd <= tol_units)
    winner = (F.when(~b_ok & ~f_ok, F.lit(None).cast(carried_type))
              .when(~b_ok, F.col("_f"))
              .when(~f_ok, F.col("_b"))
              .when(d_back <= d_fwd, F.col("_b"))
              .otherwise(F.col("_f")))
    staged = (filled.where(F.col("_side") == 1)
              .select(*left_restore, winner.alias("_w")))
    matched = staged.select(
        *left.columns,
        *[F.col(f"_w._pp.{o}").alias(o) for o in out_cols])
    return matched.unionByName(left_bypass)


def derive_bucket_seconds(intervals: DataFrame,
                          start_col: str = "start_ts",
                          end_col: str = "end_ts") -> tuple[int, dict]:
    """The single definition of :func:`range_join`'s auto bucket-width
    rule: the median interval span in whole seconds (floor 1 s; 3600 s
    when the interval side is empty), via one bounded two-column
    aggregate. Returns ``(bucket_seconds, stats)`` where ``stats``
    carries ``n_intervals``, ``estimated_fanout_rows`` (the explode
    row count the chosen width implies, ``sum(span)/width + n``) and
    ``span_max`` (the longest span in whole seconds;
    :func:`range_count_sum` skips its whale tier when ``span_max`` is at
    most ``whale_factor`` times the bucket width it plans with).
    Exposed so benches/operators that need to RECORD the derived width
    share this code instead of re-implementing it and drifting."""
    span = (F.unix_timestamp(F.col(end_col))
            - F.unix_timestamp(F.col(start_col)))
    row = (intervals.where(F.col(start_col) <= F.col(end_col))
           .agg(F.percentile_approx(span, 0.5).alias("p50"),
                F.count(F.lit(1)).alias("n"),
                F.sum(span).alias("total"),
                F.max(span).alias("mx")).collect()[0])
    bucket = max(1, int(row["p50"])) if row["p50"] is not None else 3600
    fanout = int(row["total"] or 0) // bucket + int(row["n"] or 0)
    return bucket, {"n_intervals": int(row["n"] or 0),
                    "estimated_fanout_rows": fanout,
                    "span_max": int(row["mx"] or 0)}


def range_join(points: DataFrame, intervals: DataFrame,
               ts_col: str = "ts",
               start_col: str = "start_ts", end_col: str = "end_ts",
               bucket_seconds: int | None = None,
               whale_factor: int = 32) -> DataFrame:
    """Big-big interval-containment join: every (point, interval)
    pair with ``start_col <= ts_col <= end_col`` (inclusive), with no
    join key required on either side.

    A naive theta-join here is a cartesian product — a BroadcastNestedLoopJoin
    that dies the moment neither side fits in memory. Instead both
    sides are mapped onto fixed-width time buckets: each interval
    explodes to every bucket it overlaps, each point lands in exactly
    ONE bucket, and a plain equi-join on the bucket id runs as a
    shuffled hash join that AQE can size and skew-split. The exact
    containment predicate then filters within buckets. Because a
    point has a single bucket, no dedup pass is needed — each
    qualifying pair is produced exactly once.

    ``bucket_seconds`` should sit near the median interval length: the
    interval explode emits ``span/bucket_seconds + 1`` rows per
    interval (fan-out cost), while buckets much wider than the
    intervals make the equi-join degenerate toward all-pairs within a
    bucket (filter cost). Both failure modes are visible in the plan
    as row-count blowups, not as silent wrong answers. When the caller
    doesn't pass one (the default), it is DERIVED from the data as the
    median interval span (:func:`derive_bucket_seconds` — one bounded
    aggregate over the interval side, column-pruned to the two bound
    columns), and the estimated explode fan-out is logged so the cost
    is never silent. Auto mode is EAGER — constructing the DataFrame
    runs that aggregate as a Spark job — and the filtered interval
    side is lazily localCheckpoint'ed so the join explode reuses the
    derivation's scan instead of recomputing the lineage; hot-path
    callers with a known workload should pass an explicit value to
    stay fully lazy.

    Bucket ids come from second-truncated epochs, which is
    containment-safe: truncation is monotone, so
    ``start <= ts <= end`` implies
    ``bucket(start) <= bucket(ts) <= bucket(end)`` and the exact
    filter never loses a pair. Column names must not collide across
    the two inputs (alias before calling).

    **Whale intervals** (r9): a median-derived (or workload-tuned)
    width cannot protect against a p99.9 outlier interval — one
    1000x-median interval would explode into ~1000 bucket rows.
    Intervals longer than ``whale_factor`` x ``bucket_seconds`` are
    routed through a SECOND, coarse bucket tier of width
    ``whale_factor * bucket_seconds``: each whale explodes to at most
    ``span / (whale_factor * bucket_seconds) + 1`` rows, points land
    in exactly one bucket of EACH tier, and every interval lives in
    exactly one tier — so each qualifying pair is still produced
    exactly once and the union of the two tier joins is row-identical
    to the single-tier form (pinned by
    ``test_range_join_whale_tier_identical``). Both tiers' explode
    row counts are logged. Set ``whale_factor=0`` to disable the
    second tier (single-tier legacy plan).
    """
    if bucket_seconds is not None and bucket_seconds <= 0:
        raise ValueError("range_join: bucket_seconds must be positive")
    clash = sorted(set(points.columns) & set(intervals.columns))
    if clash:
        raise ValueError(f"range_join: column names {clash} appear on "
                         "both sides; alias before joining")
    reserved = [c for c in ("_bucket",)
                if c in points.columns or c in intervals.columns]
    if reserved:
        raise ValueError(f"range_join: column names {reserved} collide "
                         "with internal staging names; rename before "
                         "joining")
    # inverted (start > end) intervals can match nothing, but Spark's
    # sequence() COUNTS DOWN for descending bounds — without this
    # guard an inverted interval would fan out to every bucket between
    # its ends and die only at the exact filter, pure wasted shuffle.
    # This same where() also removes NULL-bound intervals (NULL <=
    # comparison -> filtered), and point-side NULL timestamps drop out
    # of the bucket equi-join on their own — together matching SQL
    # BETWEEN's never-match semantics.
    if whale_factor < 0:
        raise ValueError("range_join: whale_factor must be >= 0")
    intervals = intervals.where(F.col(start_col) <= F.col(end_col))
    log = logging.getLogger("lexmapr_spark.joins")
    if bucket_seconds is None:
        # auto mode is EAGER (the derivation is a blocking aggregate
        # job at construction time). The filtered interval side is
        # persist()ed — RECOMPUTABLE, unlike the pre-r9 lazy
        # localCheckpoint whose blocks died with an executor and
        # whose storage sat below the derivation's column pruning
        # (r8 ADVICE) — via the bounded scoped registry, so repeated
        # auto calls in a long session hold at most one snapshot
        # (eviction unwarned: the frame is a deterministic pure
        # derivation of the source, so a recompute is row-identical).
        from lexmapr_spark.ops.util import scoped_persist
        intervals = scoped_persist(intervals, "range_join_auto",
                                   warn_on_evict=False)
        bucket_seconds, stats = derive_bucket_seconds(
            intervals, start_col, end_col)
        # fan-out guard (r8 ADVICE): a skewed span mix (tiny median,
        # long tail) can make the derived width explode the interval
        # side; the whale tier bounds the worst interval, but a
        # *pervasively* heavy tail still deserves a loud warning
        if stats["estimated_fanout_rows"] > 16 * max(
                1, stats["n_intervals"]):
            log.warning(
                "range_join: derived bucket_seconds=%d implies ~%.0fx "
                "explode fan-out over %d intervals (heavy span tail); "
                "consider passing an explicit bucket_seconds",
                bucket_seconds,
                stats["estimated_fanout_rows"]
                / max(1, stats["n_intervals"]), stats["n_intervals"])
        log.info(
            "range_join: derived bucket_seconds=%d (median interval "
            "span) over %d intervals; estimated explode fan-out ~%d "
            "rows", bucket_seconds, stats["n_intervals"],
            stats["estimated_fanout_rows"])

    def _tier(iv_side: DataFrame, width: int) -> DataFrame:
        iv = iv_side.withColumn(
            "_bucket",
            F.explode(F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / width)
                .cast("long"),
                F.floor(F.unix_timestamp(F.col(end_col)) / width)
                .cast("long"))))
        pt = points.withColumn(
            "_bucket",
            F.floor(F.unix_timestamp(F.col(ts_col)) / width)
            .cast("long"))
        return (
            pt.join(iv, "_bucket")
            .where((F.col(ts_col) >= F.col(start_col))
                   & (F.col(ts_col) <= F.col(end_col)))
            .drop("_bucket")
        )

    if whale_factor == 0:
        return _tier(intervals, bucket_seconds)
    span = (F.unix_timestamp(F.col(end_col))
            - F.unix_timestamp(F.col(start_col)))
    cut = whale_factor * bucket_seconds
    fine = _tier(intervals.where(span <= cut), bucket_seconds)
    whales = _tier(intervals.where(span > cut), cut)
    return fine.unionByName(whales)


def range_count_sum(points: DataFrame, intervals: DataFrame,
                    ts_col: str = "ts",
                    start_col: str = "start_ts", end_col: str = "end_ts",
                    sum_col: str | None = None,
                    bucket_seconds: int | None = None,
                    count_alias: str = "n_points",
                    sum_alias: str = "value_sum",
                    whale_factor: int = 32) -> DataFrame:
    """Per-interval COUNT (and optional exact sum of ``sum_col``) of
    the points each interval contains — row-identical to
    ``range_join(points, intervals).groupBy(<interval cols>)
    .agg(count(*), sum(sum_col))`` but WITHOUT ever materializing the
    point x interval pair set (r9 optimization, guide §2.3 "aggregate
    before you shuffle" / §8 "decide with small rows").

    The pair form is intrinsically quadratic: every interval pairs
    with every contained point, so candidate volume grows as
    ``n_points * n_intervals * span / time_range`` (measured 40+ s at
    the 1M-event bench scale for ~250M pairs that a groupBy then
    collapses to ~400k rows). Here points are pre-aggregated into
    fixed ``bucket_seconds`` epochs FIRST (one map-side-combined
    aggregate, output bounded by the TIME RANGE / bucket width — a
    function of the calendar, not the data volume); each interval then
    takes

    * the bucket aggregates of epochs STRICTLY inside
      ``(floor(start/W), floor(end/W))`` — wholly contained by
      monotonicity of truncation, no per-point filter needed; and
    * the individual points of its (at most two) EDGE epochs, with the
      exact containment predicate.

    Both contributions are bounded: ``span/W`` bucket rows plus
    ``2 * W * point_density`` edge points per interval; the default
    auto width minimizes their sum (``W* = sqrt(span_med * T /
    (2 * n_points))``, clamped to [1, span_med]) from two bounded
    aggregates (EAGER at construction, same precedent as
    :func:`range_join` auto mode; pass an explicit value to stay
    lazy). Exactness: COUNT and DECIMAL sums are associative, so
    bucket partial sums + edge values reaggregate to bit-identical
    totals (pass ``sum_col`` already cast to the DECIMAL type you
    want summed); ``sum_alias`` is NULL exactly when no contained
    point has a non-NULL ``sum_col`` (SQL sum-of-nulls semantics ride
    through the union). Intervals containing no point produce no row,
    like the pair-form groupBy. Interval columns must be
    group-by-able (no maps).

    Whale intervals (r9, mirroring :func:`range_join`): an interval
    whose span exceeds ``whale_factor * bucket_seconds`` would explode
    ``span / bucket_seconds`` inner-epoch rows — unbounded for a
    p99.9 outlier. Such intervals instead take COARSE epochs of width
    ``whale_factor * bucket_seconds`` (re-aggregated from the fine
    bucket table, never from raw points) for the coarse buckets wholly
    inside their fine-inner region, fine epochs only for the ≤
    ``2 * (whale_factor - 1)`` leftover fine buckets between the
    coarse-covered region and their edge epochs, and raw points for
    the ≤ 2 edge epochs — bounding the explode at
    ``span / (whale_factor * bucket_seconds) + 2 * whale_factor + 1``
    rows. The three regions partition the interval's epochs, so
    associativity keeps totals bit-identical
    (``test_range_count_sum_whale_tier_identical``). Set
    ``whale_factor=0`` to disable the tier.
    """
    if bucket_seconds is not None and bucket_seconds <= 0:
        raise ValueError("range_count_sum: bucket_seconds must be "
                         "positive")
    if whale_factor < 0:
        raise ValueError("range_count_sum: whale_factor must be >= 0")
    clash = sorted(set(points.columns) & set(intervals.columns))
    if clash:
        raise ValueError(f"range_count_sum: column names {clash} appear "
                         "on both sides; alias before joining")
    reserved = [c for c in ("_bucket", "_n", "_s")
                if c in points.columns or c in intervals.columns]
    if reserved:
        raise ValueError(f"range_count_sum: column names {reserved} "
                         "collide with internal staging names; rename "
                         "before joining")
    intervals = intervals.where(F.col(start_col) <= F.col(end_col))
    if bucket_seconds is None:
        # share the interval scan across derivation + both joins —
        # recomputable persist via the bounded scope registry (same
        # rationale as range_join auto mode)
        from lexmapr_spark.ops.util import scoped_persist
        intervals = scoped_persist(intervals, "range_count_sum_auto",
                                   warn_on_evict=False)
        span_med, iv_stats = derive_bucket_seconds(
            intervals, start_col, end_col)
        prow = points.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.unix_timestamp(F.col(ts_col))).alias("t0"),
            F.max(F.unix_timestamp(F.col(ts_col))).alias("t1")).collect()[0]
        n_pts = int(prow["n"] or 0)
        t_range = max(1, int(prow["t1"] - prow["t0"]) + 1) \
            if prow["t0"] is not None else 1
        import math
        w = int(math.sqrt(max(1.0, float(span_med)) * t_range
                          / max(1.0, 2.0 * n_pts)))
        bucket_seconds = max(1, min(w, max(1, span_med)))
        logging.getLogger("lexmapr_spark.joins").info(
            "range_count_sum: derived bucket_seconds=%d (span_med=%d, "
            "time_range=%d s, %d points, %d intervals)", bucket_seconds,
            span_med, t_range, n_pts, iv_stats["n_intervals"])
        if (whale_factor > 0
                and iv_stats["span_max"] <= whale_factor * bucket_seconds):
            # the derivation already observed every span: with no whale
            # present, plan the flat single-tier form — the tier's
            # extra branches cost a measured ~20% on whale-free data
            # for zero benefit. Data-derived, so a whale-bearing input
            # still gets the bounded plan automatically.
            logging.getLogger("lexmapr_spark.joins").info(
                "range_count_sum: span_max=%d <= %d, whale tier "
                "skipped", iv_stats["span_max"],
                whale_factor * bucket_seconds)
            whale_factor = 0

    iv_cols = [c for c in intervals.columns]
    sum_exprs = [F.col(sum_col)] if sum_col else []
    pt = points.select(
        F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_seconds)
        .cast("long").alias("_bucket"),
        F.col(ts_col), *sum_exprs)
    bucket_agg = pt.groupBy("_bucket").agg(
        F.count(F.lit(1)).alias("_n"),
        *([F.sum(sum_col).alias("_s")] if sum_col else []))
    b_lo = F.floor(F.unix_timestamp(F.col(start_col))
                   / bucket_seconds).cast("long")
    b_hi = F.floor(F.unix_timestamp(F.col(end_col))
                   / bucket_seconds).cast("long")
    _empty = F.array().cast("array<long>")
    _part_cols = [F.col("_n")] + ([F.col("_s")] if sum_col else [])

    # inner epochs: strictly between the edge epochs (guard the
    # explode — Spark's sequence() COUNTS DOWN for descending bounds)
    def inner_rows(iv_side: DataFrame) -> DataFrame:
        return (iv_side.withColumn(
            "_bucket",
            F.explode(F.when(b_hi - b_lo >= 2,
                             F.sequence(b_lo + 1, b_hi - 1))
                      .otherwise(_empty)))
            .join(bucket_agg, "_bucket")
            .select(*iv_cols, *_part_cols))

    span = (F.unix_timestamp(F.col(end_col))
            - F.unix_timestamp(F.col(start_col)))
    cut = whale_factor * bucket_seconds
    if whale_factor == 0:
        parts = [inner_rows(intervals)]
    else:
        parts = [inner_rows(intervals.where(span <= cut))]
        whales = intervals.where(span > cut)
        f = F.lit(whale_factor)
        # coarse epochs wholly inside the fine-inner region
        # [b_lo+1, b_hi-1]: coarse bucket cb covers fine buckets
        # [cb*f, cb*f + f - 1], so cb runs over
        # [ceil((b_lo+1)/f), floor((b_hi-f)/f)]
        cb_start = F.floor((b_lo + whale_factor) / f).cast("long")
        cb_end = F.floor((b_hi - whale_factor) / f).cast("long")
        has_coarse = cb_end >= cb_start
        coarse_agg = (bucket_agg.groupBy(
            F.floor(F.col("_bucket") / f).cast("long").alias("_bucket"))
            .agg(F.sum("_n").alias("_n"),
                 *([F.sum("_s").alias("_s")] if sum_col else [])))
        parts.append(
            whales.withColumn(
                "_bucket",
                F.explode(F.when(has_coarse,
                                 F.sequence(cb_start, cb_end))
                          .otherwise(_empty)))
            .join(coarse_agg, "_bucket")
            .select(*iv_cols, *_part_cols))
        # leftover fine epochs between the fine-inner region and the
        # coarse-covered region (each side shorter than one coarse
        # bucket); the whole fine-inner region when no coarse bucket
        # fits — the three exploded sets partition [b_lo+1, b_hi-1]
        lf_left = F.when(has_coarse & (cb_start * f - 1 >= b_lo + 1),
                         F.sequence(b_lo + 1, cb_start * f - 1)) \
                   .otherwise(_empty)
        lf_right = F.when(has_coarse & (b_hi - 1 >= cb_end * f + f),
                          F.sequence(cb_end * f + f, b_hi - 1)) \
                    .otherwise(_empty)
        lf_whole = F.when((~has_coarse) & (b_hi - b_lo >= 2),
                          F.sequence(b_lo + 1, b_hi - 1)) \
                    .otherwise(_empty)
        parts.append(
            whales.withColumn(
                "_bucket",
                F.explode(F.concat(lf_left, lf_right, lf_whole)))
            .join(bucket_agg, "_bucket")
            .select(*iv_cols, *_part_cols))
    # edge epochs: exact containment filter on the raw points
    edges = (intervals.withColumn(
        "_bucket", F.explode(F.array_distinct(F.array(b_lo, b_hi))))
        .join(pt, "_bucket")
        .where((F.col(ts_col) >= F.col(start_col))
               & (F.col(ts_col) <= F.col(end_col)))
        .select(*iv_cols, F.lit(1).cast("long").alias("_n"),
                *([F.col(sum_col).alias("_s")] if sum_col else [])))
    parts.append(edges)
    if sum_col:
        # align the partial-sum DECIMAL widths for the union (the
        # coarse tier's sum-of-sums and the raw edge values are both
        # partial sums of the same data, bounded by the final total)
        stype = parts[0].schema["_s"].dataType
        parts = [p_ if p_.schema["_s"].dataType == stype
                 else p_.withColumn("_s", F.col("_s").cast(stype))
                 for p_ in parts]
    out_aggs = [F.sum("_n").alias(count_alias)]
    if sum_col:
        out_aggs.append(F.sum("_s").alias(sum_alias))
    from functools import reduce
    return (reduce(lambda a, b_: a.unionByName(b_), parts)
            .groupBy(*iv_cols).agg(*out_aggs))
