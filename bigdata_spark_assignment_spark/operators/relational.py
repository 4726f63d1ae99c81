"""Relational operator helpers (SURVEY.md §2.4-2.6).

These are the engine-level building blocks behind the named queries:
distinct-count with the reference's null-as-a-group semantics, top-k
per group, and join conveniences. All pure DataFrame/Column
compositions — Catalyst sees through every one of them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .. import cache


def distinct_count_expr(col: Column) -> Column:
    """Aggregate expression: number of distinct values of ``col``,
    **counting NULL as a value** — the reference's double-groupBy idiom
    (``Main.scala:133,192``: ``groupBy(c).count().groupBy(c).count()
    .count()``) pays two shuffles for this; ``count_distinct`` alone
    under-counts by one when NULLs are present.

    ``count_distinct(c) + max(int(c IS NULL))`` gets the same answer in
    a single aggregation (one shuffle, map-side partials).
    """
    return (
        F.count_distinct(col)
        + F.coalesce(F.max(F.when(col.isNull(), 1).otherwise(0)), F.lit(0))
    ).cast("long")


def top_k_per_group(df: DataFrame, group_cols: list[str],
                    order_by: list[Column], k: int,
                    rank_col: str = "rn") -> DataFrame:
    """Top-k rows per group via a ranking window.

    Callers must make ``order_by`` a total order (append a unique key)
    if they need deterministic output under ties.

    100 TB notes: one shuffle on ``group_cols``; each partition ranks
    locally after the shuffle sort. For small k and huge groups this
    beats a global sort by orders of magnitude.
    """
    w = W.partitionBy(*group_cols).orderBy(*order_by)
    return (df.withColumn(rank_col, F.row_number().over(w))
              .filter(F.col(rank_col) <= k))


def asof_join(left: DataFrame, right: DataFrame, key_cols: list[str],
              ts_col: str = "ts", right_value_cols: list[str] | None = None,
              suffix: str = "_asof") -> DataFrame:
    """As-of join: for every left row, the most recent right row with
    ``right.ts <= left.ts`` within the same key (NULLs where no right
    row precedes). The operator Spark lacks natively, composed from
    built-ins.

    Shape: union both sides tagged, ONE window sort per key carrying
    the last-seen right values forward (``last(..., ignorenulls)``),
    then keep left rows. Cost: a single shuffle on key_cols + a
    per-partition sort — same complexity class as one sort-merge join,
    and NO range-explosion (a naive ``l.ts >= r.ts`` theta join is a
    per-key cross product).

    Tie rule: right rows sort BEFORE left rows at equal ts, so an
    exactly-simultaneous right row is visible ("at or before") —
    matching DuckDB's ASOF semantics (the q56 oracle). Right rows must
    be unique per (key, ts); pre-aggregate otherwise.

    100 TB notes: partitions by key; a single hot key serializes into
    one task's sort — mitigate by sub-bucketing time ranges per key
    (carry the last value across bucket boundaries with a second
    small window) — documented, not needed at driver scale.
    """
    right_value_cols = right_value_cols or [
        c for c in right.columns if c not in key_cols and c != ts_col]
    l = left.withColumn("__is_left", F.lit(1))
    r = right.select(
        *key_cols, ts_col,
        *[F.col(c).alias(f"{c}{suffix}") for c in right_value_cols]) \
        .withColumn("__is_left", F.lit(0))
    for c in left.columns:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    for c in r.columns:
        if c not in l.columns:
            l = l.withColumn(c, F.lit(None).cast(dict(r.dtypes)[c]))
    unioned = l.unionByName(r.select(*l.columns))
    w = (W.partitionBy(*key_cols)
         .orderBy(F.col(ts_col).asc(), F.col("__is_left").asc())
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    carried = unioned.withColumns({
        f"{c}{suffix}": F.last(F.col(f"{c}{suffix}"), ignorenulls=True).over(w)
        for c in right_value_cols})
    carried = carried.withColumn(
        f"{ts_col}{suffix}",
        F.last(F.when(F.col("__is_left") == 0, F.col(ts_col)),
               ignorenulls=True).over(w))
    return (carried.filter(F.col("__is_left") == 1)
            .drop("__is_left"))


def scd2_history(changes: DataFrame, key_cols: list[str],
                 attr_cols: list[str], ts_col: str = "ts",
                 tiebreak_cols: list[str] | None = None) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history from an
    append-only change log: one row per (key, attribute-version) with
    ``valid_from`` / ``valid_to`` / ``is_current``. Consecutive
    changes with identical tracked attributes are no-ops and collapse
    into the open version (null-safe comparison, so NULL attrs don't
    spuriously open versions).

    ``tiebreak_cols`` must make (ts_col, *tiebreak_cols) a total order
    per key (pass the change-event id) or version order under equal
    timestamps is nondeterministic.

    100 TB notes: ONE shuffle on key_cols serves both windows (the
    no-op filter's lag and the validity lead share the same partition
    sort — Catalyst plans a single Window exchange). No driver
    involvement, no UDFs; this is the standard CDC-log → dimension
    rebuild and it scales exactly like a window query.
    """
    tiebreak_cols = tiebreak_cols or []
    w = W.partitionBy(*key_cols).orderBy(ts_col, *tiebreak_cols)
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    versions = (changes
                .withColumn("__prev", F.lag(attrs).over(w))
                .filter(F.col("__prev").isNull()
                        | ~F.col("__prev").eqNullSafe(attrs)))
    return (versions
            .withColumn("valid_from", F.col(ts_col))
            .withColumn("valid_to", F.lead(ts_col).over(w))
            .withColumn("is_current", F.col("valid_to").isNull())
            .select(*key_cols, *attr_cols,
                    "valid_from", "valid_to", "is_current",
                    *tiebreak_cols))


def scd2_merge(history: DataFrame, batch: DataFrame, key_cols: list[str],
               attr_cols: list[str], ts_col: str = "ts",
               tiebreak_cols: list[str] | None = None) -> DataFrame:
    """Apply a new batch of change events to an existing SCD2 history
    INCREMENTALLY — the Delta/Iceberg ``MERGE`` pattern expressed as
    pure DataFrame ops. Precondition: every batch event's ts is
    strictly later than every history ts for the same key (append-only
    log split at a cutoff).

    Semantics contract: ``scd2_merge(scd2_history(log[<t]), log[>=t])``
    equals ``scd2_history(log)`` row-for-row — the q73 driver query
    checks exactly this against a full-rebuild SQL oracle.

    Steps (all per-key window/join work, shuffle on key_cols only):
    1. version the batch with :func:`scd2_history`;
    2. drop a batch key's FIRST version when it null-safe-equals the
       key's open history attrs (a cross-boundary no-op; later batch
       versions can't be no-ops — they differ from their predecessor);
    3. close open history rows at the key's first surviving batch
       ``valid_from``; keys untouched by the batch keep their open row.

    100 TB notes: the batch is normally ≪ the history, so both joins
    (no-op check, close-at) broadcast the batch side; the closed
    history never rewrites — in a real lakehouse sink this is the
    MERGE's matched-update clause over a partition-pruned scan.
    """
    tiebreak_cols = tiebreak_cols or []
    out_cols = [*key_cols, *attr_cols,
                "valid_from", "valid_to", "is_current"]
    attrs = F.struct(*[F.col(c) for c in attr_cols])

    mini = scd2_history(batch, key_cols, attr_cols, ts_col, tiebreak_cols)
    w = W.partitionBy(*key_cols).orderBy("valid_from", *tiebreak_cols)
    mini = mini.withColumn("__rn", F.row_number().over(w))

    current = history.filter(F.col("is_current"))
    # restrict the (huge) current history to batch keys with a
    # broadcast semi-join, so the no-op check's join side is small
    # enough to broadcast back against the batch versions
    batch_keys = mini.select(*key_cols).distinct()
    cur_attrs = (current.join(F.broadcast(batch_keys), key_cols,
                              "left_semi")
                 .select(*key_cols, attrs.alias("__cur_attrs")))
    mini = (mini.join(F.broadcast(cur_attrs), key_cols, "left")
            .filter(~((F.col("__rn") == 1)
                      & attrs.eqNullSafe(F.col("__cur_attrs")))))

    close_at = (mini.groupBy(*key_cols)
                .agg(F.min("valid_from").alias("__close_ts")))
    closed = (current.join(F.broadcast(close_at), key_cols, "left")
              .withColumn("valid_to",
                          F.coalesce(F.col("__close_ts"),
                                     F.col("valid_to")))
              .withColumn("is_current", F.col("valid_to").isNull()))
    return (history.filter(~F.col("is_current")).select(*out_cols)
            .unionByName(closed.select(*out_cols))
            .unionByName(mini.select(*out_cols)))


def range_join_binned(left: DataFrame, intervals: DataFrame,
                      ts_col: str, start_col: str, end_col: str,
                      bin_seconds: int = 900,
                      extra_keys: list[str] | None = None) -> DataFrame:
    """Range join (point-in-interval) without the cross product:
    both sides are binned to ``bin_seconds`` buckets, the join is EQUI
    on (bin [, extra_keys]), and exact containment is a cheap post
    filter. Each left row has exactly one bin, so no dedup is needed.

    A naive ``l.ts BETWEEN r.start AND r.end`` theta join plans as
    BroadcastNestedLoop (O(|L|·|R|)); this shape shuffles
    O(|L| + |R|·intervals_per_bin) rows and stays a hash join. Pick
    ``bin_seconds`` ≈ median interval length: shorter bins replicate
    intervals more, longer bins inflate the post-filter.

    100 TB notes: this is the standard "bin-and-refine" spatial/time
    join; AQE handles bin skew, and bins compose with partition
    pruning when the fact table is date-partitioned.
    """
    extra_keys = extra_keys or []
    lb = left.withColumn(
        "__bin", F.floor(F.unix_timestamp(F.col(ts_col)) / bin_seconds))
    ib = intervals.withColumn(
        "__bin",
        F.explode(F.sequence(
            F.floor(F.unix_timestamp(F.col(start_col)) / bin_seconds),
            F.floor(F.unix_timestamp(F.col(end_col)) / bin_seconds))))
    joined = lb.join(ib, ["__bin", *extra_keys])
    return (joined
            .filter((F.col(ts_col) >= F.col(start_col))
                    & (F.col(ts_col) <= F.col(end_col)))
            .drop("__bin"))


def interval_overlap_join_binned(a: DataFrame, b: DataFrame,
                                 a_start: str, a_end: str,
                                 b_start: str, b_end: str,
                                 bin_seconds: int = 900,
                                 extra_keys: list[str] | None = None
                                 ) -> DataFrame:
    """INTERVAL-overlap join (not point-in-interval): pairs where
    [a_start, a_end] ∩ [b_start, b_end] ≠ ∅, i.e.
    a_start <= b_end AND b_start <= a_end — the ad-exposure×session /
    downtime×job / shift×incident join.

    Same bin-and-refine contract as ``range_join_binned``, but BOTH
    sides explode to their covered bins, so a candidate pair can meet
    in several bins: the join keeps ONE meeting per pair by accepting
    a bin only if it is the FIRST bin both intervals cover
    (bin == max(bin_start_a, bin_start_b) — the overlap's first bin,
    a stateless dedup that needs no distinct and therefore no second
    shuffle). Exact overlap is the cheap post filter.

    A naive theta join is BroadcastNestedLoop O(|A|·|B|); this plans
    as one hash join shuffling O(Σ interval_len/bin) rows. Pick
    ``bin_seconds`` ≈ the median interval length; AQE absorbs hot
    bins. Interval columns must be non-NULL with start <= end
    (filtered here — NULL endpoints have no overlap semantics).
    """
    extra_keys = extra_keys or []

    def _bins(df, start, end, tag):
        lo = F.floor(F.unix_timestamp(F.col(start)) / bin_seconds)
        hi = F.floor(F.unix_timestamp(F.col(end)) / bin_seconds)
        return (df.filter(F.col(start).isNotNull()
                          & F.col(end).isNotNull()
                          & (F.col(start) <= F.col(end)))
                .withColumn(f"__lo_{tag}", lo)
                .withColumn("__bin", F.explode(F.sequence(lo, hi))))

    ab = _bins(a, a_start, a_end, "a")
    bb = _bins(b, b_start, b_end, "b")
    joined = ab.join(bb, ["__bin", *extra_keys])
    return (joined
            .filter(F.col("__bin") == F.greatest("__lo_a", "__lo_b"))
            .filter((F.col(a_start) <= F.col(b_end))
                    & (F.col(b_start) <= F.col(a_end)))
            .drop("__bin", "__lo_a", "__lo_b"))


# ---------------------------------------------------------------------------
# Bloom-filter semi-join (runtime-filter pattern) — r5
# ---------------------------------------------------------------------------

def bloom_bitmap(build: DataFrame, key_col: str, m_bits: int = 1 << 20,
                 k_hashes: int = 5) -> DataFrame:
    """Distributed Bloom filter over ``build[key_col]`` as ONE row
    holding a ``map<bigint, bigint>`` of 64-bit words (only words with
    set bits are materialized — the map is sparse).

    Built entirely with native expressions: each key contributes
    ``k_hashes`` bit positions (``pmod(xxhash64(key, i), m_bits)``),
    exploded to (word_idx, single-bit mask) pairs, OR-combined per
    word with a partial-aggregating ``bit_or`` (map-side combine
    collapses each partition's contribution before the one small
    shuffle), then assembled into the map. For m_bits = 2^20 the map
    is ≤ 16384 entries (~256 KB) — broadcastable at any build-side
    cardinality.
    """
    masks = (build
             .select(F.col(key_col).alias("__k")).distinct()
             .select(F.explode(F.transform(
                 F.sequence(F.lit(0), F.lit(k_hashes - 1)),
                 lambda i: F.pmod(F.xxhash64(F.col("__k"), i),
                                  F.lit(m_bits)))).alias("__bit"))
             # call_function: the SQL shiftleft takes a COLUMN shift
             # amount; the python wrapper F.shiftleft only takes int
             .select((F.col("__bit") / 64).cast("bigint").alias("__w"),
                     F.call_function(
                         "shiftleft", F.lit(1).cast("bigint"),
                         F.pmod(F.col("__bit"), F.lit(64)).cast("int"))
                     .alias("__m"))
             .groupBy("__w").agg(F.bit_or("__m").alias("__m")))
    return masks.groupBy().agg(
        F.map_from_arrays(F.collect_list("__w"),
                          F.collect_list("__m")).alias("__bloom"))


def bloom_might_contain(key: Column, bloom_col: Column, m_bits: int,
                        k_hashes: int) -> Column:
    """Membership test against a ``bloom_bitmap`` map column: TRUE iff
    all k bits are set (false positives possible, negatives exact)."""
    import functools
    import operator

    def bit(i: int) -> Column:
        p = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits))
        word = F.coalesce(
            F.element_at(bloom_col, (p / 64).cast("bigint")), F.lit(0))
        return F.call_function(
            "shiftright", word, F.pmod(p, F.lit(64)).cast("int")) \
            .bitwiseAND(F.lit(1)) == 1

    return functools.reduce(operator.and_, [bit(i) for i in range(k_hashes)])


def bloom_semi_join(probe: DataFrame, build: DataFrame, probe_key: str,
                    build_key: str, m_bits: int = 1 << 20,
                    k_hashes: int = 5, exact: bool = True) -> DataFrame:
    """Semi-join with a broadcast Bloom PRE-FILTER on the probe side —
    the runtime-filter pattern Spark applies internally for DPP/
    runtime row filters, exposed as an explicit operator.

    Result is row-identical to ``probe.join(build, cond, "left_semi")``
    when ``exact=True`` (the Bloom pass only PRUNES; a real semi-join
    over the survivors removes false positives — asserted by the q23
    oracle). ``exact=False`` returns the Bloom-only filter for
    pipelines that tolerate the fp rate (≈ (1 − e^{−kn/m})^k).

    100 TB notes: the win is SHUFFLE VOLUME — with a selective build
    side, the probe's semi-join exchange shrinks by the pass rate
    (non-members are dropped at the scan, before any exchange), while
    the Bloom itself moves ≤ m/8 bytes once per executor as a 1-row
    broadcast. At fp ≈ 0 this approaches the cost of a broadcast
    semi-join without requiring the build-side KEY SET to fit in
    memory — only its bitmap."""
    bloom = bloom_bitmap(build, build_key, m_bits, k_hashes)
    pruned = (probe.crossJoin(F.broadcast(bloom))
              .filter(bloom_might_contain(F.col(probe_key),
                                          F.col("__bloom"),
                                          m_bits, k_hashes))
              .drop("__bloom"))
    if not exact:
        return pruned
    cond = pruned[probe_key] == build[build_key]
    return pruned.join(build, cond, "left_semi")


def resample_ffill(events: DataFrame, intervals: DataFrame,
                   ts_col: str, value_col: str,
                   key_cols: list[str], start_col: str = "w_start",
                   end_col: str = "w_end",
                   step_seconds: int = 900) -> DataFrame:
    """Per-key time-series resampling with forward-fill gap repair (r5)
    — the feature-engineering primitive behind regular-grid model
    inputs: each key's window [start, end] becomes a fixed
    ``step_seconds`` grid, observations aggregate (SUM) into their
    bucket, and empty buckets carry the LAST observed value forward.

    Returns one row per (key, bucket): the bucket index and start
    timestamp, the raw bucket sum (NULL for gaps), the forward-filled
    value (NULL only before a key's first observation), and a gap
    flag.

    Plan shape: the grid is ``sequence()`` + ``explode`` off the
    (small) intervals frame — no driver loop; bucketing is integer
    epoch arithmetic; the gap repair is ONE window pass
    (last(ignorenulls) over bucket order per key). Everything shuffles
    once on the key. 100 TB notes: grid size is
    |keys| · window/step — independent of event volume; the events
    side aggregates DOWN to buckets before the grid join, so the join
    touches at most one row per occupied bucket.
    """
    gridded = _resample_grid(events, intervals, ts_col, value_col,
                             key_cols, start_col, end_col, step_seconds)
    w = (W.partitionBy(*key_cols).orderBy("bucket_ts")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return gridded.select(
        *key_cols, "bucket_idx", "bucket_ts", "bucket_sum",
        F.last("bucket_sum", ignorenulls=True).over(w)
         .alias("filled_sum"),
        F.col("bucket_sum").isNull().alias("is_gap"))


def _resample_grid(events: DataFrame, intervals: DataFrame,
                   ts_col: str, value_col: str, key_cols: list[str],
                   start_col: str, end_col: str,
                   step_seconds: int) -> DataFrame:
    """Shared grid-and-bucket stage for the resample family: explode
    each key's [start, end] into a ``step_seconds`` grid, SUM
    observations into buckets BEFORE the grid join, left-join grid to
    occupied buckets. One shuffle on the key; grid size is
    |keys| · window/step regardless of event volume."""
    step = F.lit(step_seconds)
    iv = intervals
    grid = iv.select(
        *key_cols,
        F.col(start_col).alias("__w_start"),
        F.explode(F.sequence(
            F.col(start_col), F.col(end_col),
            F.expr(f"INTERVAL {step_seconds} SECONDS"))).alias("bucket_ts"))
    ev = events.join(iv, key_cols)
    diff = (F.col(ts_col).cast("timestamp").cast("long")
            - F.col(start_col).cast("timestamp").cast("long"))
    obs = (ev.filter((F.col(ts_col) >= F.col(start_col))
                     & (F.col(ts_col) <= F.col(end_col)))
           .withColumn("__bsec", F.floor(diff / step) * step)
           .withColumn("bucket_ts",
                       F.col(start_col) + F.make_interval(
                           secs=F.col("__bsec").cast("double")))
           .groupBy(*key_cols, "bucket_ts")
           .agg(F.sum(value_col).alias("bucket_sum")))
    return (grid.join(obs, [*key_cols, "bucket_ts"], "left")
            .select(*key_cols,
                    ((F.col("bucket_ts").cast("timestamp").cast("long")
                      - F.col("__w_start").cast("timestamp").cast("long"))
                     / step_seconds).cast("long").alias("bucket_idx"),
                    "bucket_ts", "bucket_sum"))


def resample_interp(events: DataFrame, intervals: DataFrame,
                    ts_col: str, value_col: str,
                    key_cols: list[str], start_col: str = "w_start",
                    end_col: str = "w_end",
                    step_seconds: int = 900) -> DataFrame:
    """Per-key resampling with time-weighted LINEAR interpolation gap
    repair — the companion to ``resample_ffill`` when the series is a
    sampled continuous signal rather than a step function.

    Gap semantics (documented, deliberate): interior gaps interpolate
    linearly on the bucket index between the surrounding observed
    buckets; trailing gaps carry the last observation forward
    (constant extrapolation, matching ffill); leading gaps stay NULL
    (nothing to anchor the line). Occupied buckets keep their exact
    bucket sum.

    Returns one row per (key, bucket): bucket index/timestamp, raw
    bucket sum (NULL for gaps), ``interp_sum``, and a gap flag.

    Plan: the shared ``_resample_grid`` stage (one key shuffle), then
    BOTH anchor lookups — last non-null value/index behind, first
    non-null value/index ahead — ride ONE window sort (same partition,
    same ascending order; the forward frame reuses the sort). No
    self-join, no UDF; the arithmetic is pure codegen. The q56 oracle
    re-derives every filled value via the same two IGNORE NULLS
    window frames.
    """
    gridded = _resample_grid(events, intervals, ts_col, value_col,
                             key_cols, start_col, end_col, step_seconds)
    order = W.partitionBy(*key_cols).orderBy("bucket_idx")
    back = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    fwd = order.rowsBetween(W.currentRow, W.unboundedFollowing)
    occ_idx = F.when(F.col("bucket_sum").isNotNull(),
                     F.col("bucket_idx"))
    prev_v = F.last("bucket_sum", ignorenulls=True).over(back)
    prev_i = F.last(occ_idx, ignorenulls=True).over(back)
    next_v = F.first("bucket_sum", ignorenulls=True).over(fwd)
    next_i = F.first(occ_idx, ignorenulls=True).over(fwd)
    interp = (
        F.when(F.col("bucket_sum").isNotNull(), F.col("bucket_sum"))
         .when(prev_v.isNotNull() & next_v.isNotNull(),
               prev_v + (next_v - prev_v)
               * (F.col("bucket_idx") - prev_i) / (next_i - prev_i))
         .when(prev_v.isNotNull(), prev_v))
    return gridded.select(
        *key_cols, "bucket_idx", "bucket_ts", "bucket_sum",
        interp.alias("interp_sum"),
        F.col("bucket_sum").isNull().alias("is_gap"))


def robust_anomalies(df: DataFrame, key_cols: list[str], value_col: str,
                     threshold: float = 3.5) -> DataFrame:
    """Rows whose modified z-score |0.6745·(x − median)/MAD| exceeds
    ``threshold`` within their ``key_cols`` group (Iglewicz & Hoaglin
    1993) — the outlier filter that survives the outliers it hunts,
    unlike mean/stddev z-scores which the anomalies themselves inflate.
    Groups with MAD = 0 (a majority-constant value) are skipped —
    every deviation there is "infinitely" anomalous and the caller
    should handle the degenerate group explicitly.

    Output: the input columns plus ``med``, ``mad``, ``mz``.

    Plan shape: two grouped exact-median aggregates (median of x, then
    median of |x − med|) with the tiny per-group stats broadcast back
    onto the scan each time — two passes, no row-level shuffle. Exact
    ``median`` keeps the cross-engine contract checkable to the last
    ulp; it aggregates per-group value counts in memory, so at true
    100 TB per-group cardinality swap in ``approx_percentile`` (or a
    t-digest) and trade the exact oracle for a banded one — same plan
    shape, documented trade.
    """
    med = (df.groupBy(*key_cols)
           .agg(F.median(value_col).alias("med")))
    with_med = df.join(F.broadcast(med), key_cols)
    mad = (with_med.groupBy(*key_cols)
           .agg(F.median(F.abs(F.col(value_col) - F.col("med")))
                .alias("mad")))
    mz = (F.lit(0.6745) * (F.col(value_col) - F.col("med"))
          / F.col("mad"))
    return (with_med.join(F.broadcast(mad), key_cols)
            .filter(F.col("mad") > 0)
            .withColumn("mz", mz)
            .filter(F.abs(F.col("mz")) > threshold))


def funnel_counts(df: DataFrame, user_col: str, ts_col: str,
                  type_col: str, stages: list[str]) -> DataFrame:
    """Ordered-funnel analysis: how many users completed stages
    1..k IN ORDER → (stage, n_users), stage 1-based. A user completes
    stage k at the EARLIEST event of type ``stages[k-1]`` that is
    STRICTLY after their stage-(k−1) completion time (the greedy
    choice — taking the earliest valid event at every stage is what
    maximizes the chance of completing later stages, so this counts
    exactly the users for whom ANY ordered assignment exists).

    Plan shape: one filtered min-aggregate per stage, each joined to
    the previous stage's (user, time) frame on user_id — the frames
    shrink monotonically down the funnel and reuse the user_id
    partitioning; no window over full event history, no per-user
    state. At 100 TB the later-stage frames are broadcast-sized.
    """
    import functools

    cur = None
    outs = []
    for i, stage in enumerate(stages, 1):
        ev = df.filter(F.col(type_col) == stage)
        if cur is None:
            cur = (ev.groupBy(user_col)
                   .agg(F.min(ts_col).alias("__t")))
        else:
            cur = (ev.join(cur, user_col)
                   .filter(F.col(ts_col) > F.col("__t"))
                   .groupBy(user_col)
                   .agg(F.min(ts_col).alias("__t")))
        outs.append(cur.agg(F.count(F.lit(1)).alias("n_users"))
                    .select(F.lit(i).cast("long").alias("stage"),
                            "n_users"))
    return functools.reduce(lambda a, b: a.unionByName(b), outs)


def snapshot_diff(old: DataFrame, new: DataFrame,
                  key_cols: list[str],
                  compare_cols: list[str]) -> DataFrame:
    """Audit diff of two table snapshots — the change-data-feed /
    reconciliation readout behind every "what changed between
    yesterday's load and today's" question (and the validation step
    after a backfill or an SCD2 merge, q73's family).

    Returns a tall summary: (metric, column, n) with metric ∈
    rows_added / rows_removed / rows_changed / rows_unchanged
    (column NULL) plus one col_changed row per compared column
    (among rows present on BOTH sides, counted with null-safe
    inequality — NULL→value and value→NULL both count as changes).

    Plan: ONE full-outer equi-join on the key (both sides shuffle on
    the key once — or co-located buckets skip the exchange entirely,
    layout.write_bucketed) and ONE aggregate of conditional sums; the
    per-column counters ride the same pass, so p compared columns
    cost p codegen expressions, not p joins. Row-level drill-down is
    the same join minus the aggregate — this operator deliberately
    emits only the bounded summary.
    """
    o = old.select(*key_cols,
                   *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
                   F.lit(1).alias("__in_o"))
    n = new.select(*key_cols,
                   *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
                   F.lit(1).alias("__in_n"))
    j = o.join(n, key_cols, "full_outer")
    both = F.col("__in_o").isNotNull() & F.col("__in_n").isNotNull()
    col_changed = {c: both & ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
                   for c in compare_cols}
    row_changed = None
    for c in compare_cols:
        row_changed = (col_changed[c] if row_changed is None
                       else (row_changed | col_changed[c]))
    aggs = [
        F.sum(F.when(F.col("__in_o").isNull(), 1).otherwise(0))
        .alias("__added"),
        F.sum(F.when(F.col("__in_n").isNull(), 1).otherwise(0))
        .alias("__removed"),
        F.sum(F.when(row_changed, 1).otherwise(0)).alias("__changed"),
        F.sum(F.when(both & ~row_changed, 1).otherwise(0))
        .alias("__unchanged"),
    ] + [F.sum(F.when(col_changed[c], 1).otherwise(0))
         .alias(f"__c_{c}") for c in compare_cols]
    row = j.agg(*aggs)
    nullc = F.lit(None).cast("string")
    structs = [
        F.struct(F.lit("rows_added").alias("metric"),
                 nullc.alias("column"), F.col("__added").alias("n")),
        F.struct(F.lit("rows_removed").alias("metric"),
                 nullc.alias("column"), F.col("__removed").alias("n")),
        F.struct(F.lit("rows_changed").alias("metric"),
                 nullc.alias("column"), F.col("__changed").alias("n")),
        F.struct(F.lit("rows_unchanged").alias("metric"),
                 nullc.alias("column"), F.col("__unchanged").alias("n")),
    ] + [F.struct(F.lit("col_changed").alias("metric"),
                  F.lit(c).alias("column"), F.col(f"__c_{c}").alias("n"))
         for c in compare_cols]
    return row.select(F.inline(F.array(*structs)))


def sequence_pair_support(df: DataFrame, user_col: str, ts_col: str,
                          type_col: str) -> DataFrame:
    """Frequent ordered 2-sequences (sequential-pattern mining, the
    length-2 core of GSP/PrefixSpan): for each ordered type pair
    (a, b), the number — and fraction — of users with SOME a-event
    strictly before SOME b-event. The order-aware companion to
    ``mining.association_rules`` (which counts co-occurrence
    regardless of order) and the data behind "users who view then
    purchase" style path questions.

    Existence of an a-before-b occurrence reduces to
    min_ts(a) < max_ts(b) per user, so the plan is: ONE grouped
    aggregate to the per-(user, type) min/max frame (user-type
    cardinality, map-side combined), a per-user self-join of that
    tiny frame (fan-out bounded by the type-domain size squared, not
    by event count), and a grouped count — no window over full event
    history. The denominator is a 1-row broadcast crossJoin. The q30
    oracle re-derives the reduction end-to-end.

    Returns (type_a, type_b, n_users, support) for a ≠ b.
    """
    ut = (df.groupBy(user_col, type_col)
          .agg(F.min(ts_col).alias("__t0"), F.max(ts_col).alias("__t1")))
    a = ut.select(user_col, F.col(type_col).alias("type_a"),
                  F.col("__t0").alias("__a0"))
    b = ut.select(user_col, F.col(type_col).alias("type_b"),
                  F.col("__t1").alias("__b1"))
    pairs = (a.join(b, user_col)
             .filter((F.col("type_a") != F.col("type_b"))
                     & (F.col("__a0") < F.col("__b1")))
             .groupBy("type_a", "type_b")
             .agg(F.count(F.lit(1)).alias("n_users")))
    nu = df.agg(F.countDistinct(user_col).alias("__nu"))
    return (pairs.crossJoin(F.broadcast(nu))
            .select("type_a", "type_b", "n_users",
                    (F.col("n_users") / F.col("__nu")).alias("support")))


def ewma_smooth(df: DataFrame, key_cols: list[str],
                order_cols: list[str], value_col: str,
                alpha: float = 0.5, horizon: int = 8,
                out_col: str = "ewma") -> DataFrame:
    """Finite-horizon exponentially-weighted moving average per key:

        ewma_t = Σ_{j<H, t−j exists} (1−α)^j · x_{t−j}
                 ───────────────────────────────────────
                 Σ_{j<H, t−j exists} (1−α)^j

    The horizon truncation is what makes the smoother BOTH
    oracle-expressible (the infinite recursive form needs a recursive
    CTE with per-row arithmetic the float discipline can't pin) and
    shuffle-free beyond one window sort: each output row reads its H
    predecessors via ``lag``, so the whole operator is a single
    partition-sort window with every term in whole-stage codegen — no
    self-join, no UDF, no state. Truncation error is bounded by
    (1−α)^H (≈0.4% of the weight mass at α=0.5, H=8); callers needing
    the exact recursive form at 100 TB run it as a stateful streaming
    fold instead (streaming/stateful.py pattern).

    Missing predecessors (series head) renormalize over the weights
    actually present — the standard ``adjust=True`` pandas semantics.
    ``order_cols`` must be a deterministic total order per key (pass a
    unique tiebreaker, e.g. the event id).

    Returns the input plus ``out_col``. Weights are Python floats
    embedded via ``F.lit`` and summed left-to-right j=0..H−1; the q56
    oracle unrolls the SAME literals in the SAME order, so doubles
    agree to rounding.
    """
    w = W.partitionBy(*key_cols).orderBy(*order_cols)
    num: Column = F.lit(0.0)
    den: Column = F.lit(0.0)
    for j in range(int(horizon)):
        wj = (1.0 - alpha) ** j
        lj = F.lag(F.col(value_col), j).over(w)
        num = num + F.when(lj.isNotNull(), F.lit(wj) * lj).otherwise(0.0)
        den = den + F.when(lj.isNotNull(), F.lit(wj)).otherwise(0.0)
    return df.withColumn(out_col, num / den)


def holt_weights(alpha: float, beta: float,
                 horizon: int) -> tuple[list[float], list[float]]:
    """Per-input weights of the finite-horizon Holt fold (the linear
    recursion collapsed onto its inputs): entry k weights the k-th
    OLDEST of the ``horizon`` window values in the level/trend
    outputs. Shared by ``holt_smooth`` and the q56 oracle generator
    so both engines embed bit-identical Python-float literals."""
    h = int(horizon)
    lvl_w = [0.0] * h
    trd_w = [0.0] * h
    lvl_w[0] = 1.0
    for i in range(1, h):
        new_l = [(1.0 - alpha) * (lvl_w[k] + trd_w[k])
                 for k in range(h)]
        new_l[i] += alpha
        trd_w = [beta * (new_l[k] - lvl_w[k]) + (1.0 - beta) * trd_w[k]
                 for k in range(h)]
        lvl_w = new_l
    return lvl_w, trd_w


def holt_smooth(df: DataFrame, key_cols: list[str],
                order_cols: list[str], value_col: str,
                alpha: float = 0.5, beta: float = 0.3,
                horizon: int = 8,
                out_col: str = "holt_forecast") -> DataFrame:
    """Finite-horizon Holt double-exponential smoothing per key — the
    trend-aware step up from ``ewma_smooth`` (which flattens any
    drifting series): one-step-ahead forecast ŷ = level + trend,

        l_i = α·y_i + (1−α)(l_{i−1} + b_{i−1})
        b_i = β(l_i − l_{i−1}) + (1−β)·b_{i−1}

    run over the last ``horizon`` observations with the standard cold
    start (l = first value in the window, b = 0). Because the
    recursion is LINEAR in the inputs, the whole fold collapses to
    fixed per-lag weight literals (computed once in Python, embedded
    via F.lit): each output row is two dot products over its lag
    chain — a single partition-sort window, whole-stage codegen, no
    state, no self-join, and the same-literal/same-order contract the
    q56 oracle can mirror (the ``ewma``/``_pagerank_iter_ctes``
    float discipline). Rows whose window is not fully populated (any
    of the H lags NULL — series head or a NULL observation) emit
    NULL: a partial-window Holt would need per-row weight RESETS that
    are no longer literal.

    At 100 TB: identical plan — the window sorts within keys and
    every term stays in codegen; the infinite-history recursive form
    belongs in the stateful streaming fold (streaming/stateful.py).
    """
    h = int(horizon)
    lvl_w, trd_w = holt_weights(alpha, beta, h)
    w = W.partitionBy(*key_cols).orderBy(*order_cols)
    lvl: Column = F.lit(0.0)
    trd: Column = F.lit(0.0)
    full = F.lit(True)
    for j in range(h):
        lj = F.lag(F.col(value_col), j).over(w)
        lvl = lvl + F.lit(lvl_w[h - 1 - j]) * lj
        trd = trd + F.lit(trd_w[h - 1 - j]) * lj
        full = full & lj.isNotNull()
    return df.withColumn(out_col, F.when(full, lvl + trd))


def cohort_retention(df: DataFrame, user_col: str, ts_col: str,
                     period_days: int = 1) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity
    period, counted per activity-period offset.

    Returns (cohort_day, offset, n_users, retention) where
    ``cohort_day`` is the epoch-day of the cohort period start,
    ``offset`` the whole number of periods between the cohort period
    and the activity period, ``n_users`` the distinct users from that
    cohort active at that offset, and ``retention`` =
    n_users / cohort size (the offset-0 count; 1.0 at offset 0 by
    construction).

    Plan: first-activity per user (one shuffle on user), joined back
    onto the event stream on user (the cohort table is
    user-cardinality — at 100 TB this is a plain co-partitioned join,
    NOT broadcast), then one distinct-count aggregate on
    (cohort, offset) and a cohort-sized broadcast join for the
    denominator. Period arithmetic is integer epoch-day division so
    both engines bucket identically (no timezone/DST hazards —
    sessions pin UTC).
    """
    epoch_day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    firsts = (df.select(F.col(user_col).alias("u"),
                        epoch_day.alias("d"))
              .groupBy("u")
              .agg(F.min("d").alias("d0")))
    cohort = (F.floor(F.col("d0") / period_days) * period_days) \
        .cast("long")
    acts = (df.select(F.col(user_col).alias("u"), epoch_day.alias("d"))
            .join(firsts, "u")
            .select(cohort.alias("cohort_day"),
                    F.floor((F.col("d") - F.floor(F.col("d0") / period_days)
                             * period_days) / period_days)
                    .cast("long").alias("offset"),
                    "u")
            .groupBy("cohort_day", "offset")
            .agg(F.countDistinct("u").alias("n_users")))
    base = (acts.filter(F.col("offset") == 0)
            .select("cohort_day", F.col("n_users").alias("n_base")))
    return (acts.join(F.broadcast(base), "cohort_day")
            .select("cohort_day", "offset", "n_users",
                    (F.col("n_users") / F.col("n_base"))
                    .alias("retention")))


def kaplan_meier(df: DataFrame, duration_col: str, event_col: str,
                 key_cols: list[str] | None = None) -> DataFrame:
    """Kaplan–Meier product-limit survival estimator per group — the
    right-censoring-aware answer to "how long until conversion/churn"
    that a naive mean-duration over observed events gets wrong
    (censored subjects carry information: they survived AT LEAST
    their observation window).

    Input: one row per subject with ``duration_col`` (time to event
    or to censoring) and ``event_col`` (1 = event observed,
    0 = right-censored). Ties follow the standard convention:
    subjects censored at t are still at risk for deaths at t.

    Output, one row per distinct event time t with ≥1 death:
    (keys…, t, n_risk, d, s) where n_risk = subjects at risk just
    before t, d = deaths at t, and

        S(t) = ∏_{t_i ≤ t} (1 − d_i / n_i)

    computed as exp of the running sum of log terms (a cumulative
    ROWS window ordered by t — both engines sum sequentially in time
    order, so the only cross-engine drift is libm's last-ulp on
    log/exp, ~1e-15 against the 4 dp oracle grid). A time where every
    remaining subject dies makes S exactly 0.0 from then on (the log
    term is undefined there — guarded by a cumulative-max flag, never
    evaluated).

    Plan: one (keys, t) count aggregate — the per-subject stream
    collapses to distinct event times before any window — then two
    window passes over the same partitioning (one shuffle). State is
    O(distinct times) per group; at 100 TB bucket durations first
    (e.g. to hours) — the estimator is bucketing-exact for the
    bucketed process.
    """
    key_cols = key_cols or []
    per_t = (df.groupBy(*key_cols, duration_col)
             .agg(F.sum(F.when(F.col(event_col) == 1, 1).otherwise(0))
                  .alias("d"),
                  F.count(F.lit(1)).alias("m")))
    w_all = W.partitionBy(*key_cols)
    w_prev = (W.partitionBy(*key_cols).orderBy(duration_col)
              .rowsBetween(W.unboundedPreceding, -1))
    w_cum = (W.partitionBy(*key_cols).orderBy(duration_col)
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    cur = per_t.withColumn(
        "n_risk",
        F.sum("m").over(w_all)
        - F.coalesce(F.sum("m").over(w_prev), F.lit(0)))
    term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.log(F.lit(1.0) - F.col("d") / F.col("n_risk"))
    ).otherwise(F.lit(0.0))
    zeroed = F.max(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)).over(w_cum)
    return (cur.withColumn("zeroed", zeroed)
            .withColumn("logs", F.sum(term).over(w_cum))
            .filter(F.col("d") > 0)
            .select(*key_cols, F.col(duration_col).alias("t"),
                    "n_risk", "d",
                    F.when(F.col("zeroed") == 1, F.lit(0.0))
                     .otherwise(F.exp("logs")).alias("s")))


def transition_matrix(df: DataFrame, key_cols: list[str],
                      order_cols: list[str],
                      state_col: str) -> DataFrame:
    """First-order Markov transition counts/probabilities between
    consecutive states of each key's ordered sequence.

    Returns (from_state, to_state, n, p) with
    p = n / Σ_to n  (row-stochastic per from_state). One window pass
    (lag over the per-key sort — sequences never cross keys, so the
    partition bound is also the correctness bound), one pair
    aggregate, then the denominator as a SUM window over the
    state-domain-sized pair table — no join, so the event scan and
    lag pass run exactly once (a broadcast-join denominator re-plans
    the whole lag branch per side). ``order_cols`` must totally order
    each key's events (pass a unique tiebreaker).

    The q30 oracle re-derives every count and probability with the
    same LAG chain; at 100 TB the only full-data shuffle is the
    per-key window sort, shared with sessionization's.
    """
    w = W.partitionBy(*key_cols).orderBy(*order_cols)
    pairs = (df.select(F.lag(F.col(state_col)).over(w).alias("from_state"),
                       F.col(state_col).alias("to_state"))
             .filter(F.col("from_state").isNotNull())
             .groupBy("from_state", "to_state")
             .agg(F.count(F.lit(1)).alias("n")))
    n_from = F.sum("n").over(W.partitionBy("from_state"))
    return pairs.select("from_state", "to_state", "n",
                        (F.col("n") / n_from).alias("p"))


def covariance_matrix(df: DataFrame, cols: list[str],
                      int_sums: str = "long") -> DataFrame:
    """Full covariance / correlation matrix of ``cols`` from ONE
    aggregation pass — the PCA / whitening / feature-redundancy prep
    that naive code runs as p·(p+1)/2 separate ``df.stat.corr`` jobs
    (the reference's 28-job idiom at ``Main.scala:229-247``, taken to
    its matrix conclusion).

    Plan: a single aggregate of the sufficient statistics — n, p
    column sums, p·(p+1)/2 cross-product sums — then the matrix
    entries are closed-form arithmetic on that 1-row result, exploded
    to long format (col_a, col_b, n, cov_pop, corr) for the upper
    triangle including the diagonal (cov = variance, corr = 1).
    Map-side partial aggregation bounds the exchange at O(p²) doubles
    per task regardless of row count — the 100 TB shape; the matrix
    never exists driver-side.

    Rows with a NULL in ANY of ``cols`` are dropped first (listwise
    complete-case), so every entry is computed over the same row set
    — the property pairwise-deletion matrices lack (and what makes
    the result positive semi-definite). Degenerate guards: constant
    columns yield NULL corr (0/0 → try_divide NULL), n = 0 yields an
    empty result (no groups).

    Determinism: when EVERY input column is an integral type, the
    sufficient statistics are summed exactly, so the aggregate is
    independent of partition count and combine order, and the
    closed-form doubles derived from it are bit-identical run to run
    (and across engines that sum exactly, e.g. DuckDB's HUGEINT).
    Two exact flavors, chosen by ``int_sums``:

    * ``"long"`` (default) — int64 sums, full whole-stage-codegen
      speed. Every 64-bit integer casts to double correctly rounded
      in both the JVM and DuckDB (single-word conversion), so
      bit-parity holds as long as sums FIT in int64 — Spark 4's ANSI
      mode turns an overflow into an error, never a silent wrap, so
      the bound is loud. (r7: the first cut summed DECIMAL(38,0),
      which is exact at any magnitude but runs outside codegen's fast
      path — it cost q07 +1.5s at sf0.1 for headroom the quantizer
      already guarantees isn't needed.)
    * ``"decimal"`` — DECIMAL(38,0) sums for callers whose products
      can genuinely exceed int64 (≳1e18 per-column sum of squares);
      exact at any realistic scale, slower.

    Float inputs keep double sums regardless: summing arbitrary
    doubles exactly isn't expressible, and the ~ulp order-dependence
    is inherent; quantize to a fixed-point integer grid upstream when
    cross-engine bit-parity matters (the q07 cmat plan does exactly
    that after the round-6 host-dependent 4-dp rounding flake).
    """
    d = df.na.drop(subset=cols)
    integral = {"tinyint", "smallint", "int", "bigint"}
    exact = all(
        dict(d.dtypes)[c] in integral for c in cols)

    def _sum(expr: Column) -> Column:
        if exact:
            return F.sum(expr).cast("double")
        return F.sum(expr)

    def _operand(c: str) -> Column:
        if not exact:
            return F.col(c).cast("double")
        if int_sums == "decimal":
            # decimal(19,0) per operand keeps the product within
            # decimal(38,0); sum of decimal is exact with 1e38
            # headroom
            return F.col(c).cast("decimal(19,0)")
        return F.col(c).cast("bigint")

    n = F.count(F.lit(1)).cast("double")
    aggs = [n.alias("__n")]
    for c in cols:
        aggs.append(_sum(_operand(c)).alias(f"__s_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(
                _sum(_operand(a) * _operand(b)).alias(f"__p_{a}_{b}"))
    row = d.agg(*aggs)

    def _cov(a: str, b: str) -> Column:
        nn = F.col("__n")
        return (F.col(f"__p_{a}_{b}")
                - F.col(f"__s_{a}") * F.col(f"__s_{b}") / nn) / nn

    # r8: stage the p(p+1)/2 covariances through NAMED columns before
    # deriving the correlations. Inlining _cov into every corr entry
    # re-expanded each covariance subtree up to p+2 times — for p=4
    # that is a ~10x larger expression forest, which cost q07 seconds
    # of driver analysis + janino codegen per run. CollapseProject
    # keeps the staging (each alias is non-cheap and multiply
    # referenced), and the VALUES are bit-identical: the same IEEE
    # tree evaluated once and reused instead of re-evaluated.
    cov_cols = [F.col("__n")]
    for i, a in enumerate(cols):
        for b in cols[i:]:
            cov_cols.append(_cov(a, b).alias(f"__c_{a}_{b}"))
    covs = row.select(*cov_cols)

    structs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            corr = F.try_divide(
                F.col(f"__c_{a}_{b}"),
                F.sqrt(F.col(f"__c_{a}_{a}") * F.col(f"__c_{b}_{b}")))
            structs.append(F.struct(
                F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                F.col("__n").cast("long").alias("n"),
                F.col(f"__c_{a}_{b}").alias("cov_pop"),
                corr.alias("corr")))
    return covs.select(F.inline(F.array(*structs)))


def profile_table(df: DataFrame, columns: list[str] | None = None,
                  value_len: int = 24) -> DataFrame:
    """Long-format table profile — the ANALYZE-TABLE / corpus-QA
    operator: per column, null count, exact distinct count, min, max,
    modal value and its count, each as a (column, stat, value) row
    with ``value`` stringified (truncated to ``value_len`` chars AFTER
    aggregation, so grouping/ordering see full values).

    Two scans, by design:

    1. **Stats pass** — ONE aggregate computes every per-column
       null/distinct/min/max (no shuffle beyond the 1-row final
       exchange); the row is exploded to long format JVM-side.
    2. **Top-value pass** — the melt pattern: explode each row into
       (column, value-as-string) pairs, count, keep each column's
       modal value (ties broken on the string value, so the pick is
       deterministic and cross-engine mirrorable). This pass shuffles
       |rows|·|cols| pairs — the price of EXACT modes; at 100 TB
       profile a sample, or swap the distinct/mode legs for
       approx_count_distinct + the q72 sketches (same output schema).

    min/max compare in each column's NATIVE type (numeric min, binary
    string collation) and stringify afterwards — matching the q12
    oracle's ``CAST(MIN(c) AS VARCHAR)``.
    """
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
             .cast("long").alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    structs = []
    for c in cols:
        for stat, pre in [("n_nulls", "__nn_"), ("n_distinct", "__nd_"),
                          ("min", "__mn_"), ("max", "__mx_")]:
            structs.append(F.struct(
                F.lit(c).alias("column"), F.lit(stat).alias("stat"),
                F.substring(F.col(f"{pre}{c}").cast("string"),
                            1, value_len).alias("value")))
    stats_long = (one.select(F.explode(F.array(*structs)).alias("r"))
                  .select("r.*"))

    melt = (df.select(F.explode(F.array(*[
                F.struct(F.lit(c).alias("column"),
                         F.col(c).cast("string").alias("value"))
                for c in cols])).alias("r"))
            .select("r.*")
            .filter(F.col("value").isNotNull()))
    cnt = (melt.groupBy("column", "value")
           .agg(F.count(F.lit(1)).alias("n")))
    w = W.partitionBy("column").orderBy(F.col("n").desc(),
                                        F.col("value"))
    top = (cnt.withColumn("__rk", F.row_number().over(w))
           .filter(F.col("__rk") == 1))
    top_long = (top.select(
        "column", F.lit("top_value").alias("stat"),
        F.substring("value", 1, value_len).alias("value"))
        .unionByName(top.select(
            "column", F.lit("top_count").alias("stat"),
            F.col("n").cast("string").alias("value"))))
    return stats_long.unionByName(top_long)


def pareto_frontier_2d(df: DataFrame, maximize_col: str,
                       minimize_col: str,
                       tiebreak_col: str) -> DataFrame:
    """2-D Pareto frontier (skyline / preference query): rows not
    dominated by any other — no row exists with ``maximize_col`` ≥ and
    ``minimize_col`` ≤ it, strict in at least one. Duplicate frontier
    POINTS (equal in both dims) collapse to the ``tiebreak_col``-min
    representative, so output is deterministic.

    Algorithm: sort by (max desc, min asc, tiebreak asc); a row
    survives iff its minimize value is strictly below the running min
    of all earlier rows — the classic sort-based sweep, as a window
    expression.

    Two phases because skyline is DISTRIBUTIVE (frontier of a union =
    frontier of the frontiers):

    1. local prune — the same sweep partitioned by
       ``spark_partition_id()``: embarrassingly parallel, no shuffle,
       discards all but each partition's local frontier (survivor
       count is O(log n) per partition for independent dims);
    2. global sweep over the tiny survivor set — the only serialized
       window, fed by rows that fit one task by construction.

    The q10 oracle re-derives the sweep; the definitional NOT-EXISTS
    dominance check runs in pytest (tests/test_cleaning.py) — at
    driver scale the quadratic definition costs ~9 s in the oracle
    engine, the sweep milliseconds.
    """
    def sweep(frame: DataFrame, part_cols: list[Column]) -> DataFrame:
        w = (W.partitionBy(*part_cols)
             .orderBy(F.col(maximize_col).desc(),
                      F.col(minimize_col).asc(),
                      F.col(tiebreak_col).asc())
             .rowsBetween(W.unboundedPreceding, -1))
        pm = F.min(minimize_col).over(w)
        return (frame.withColumn("__pm", pm)
                .filter(F.col("__pm").isNull()
                        | (F.col(minimize_col) < F.col("__pm")))
                .drop("__pm"))

    local = sweep(df.withColumn("__pid", F.spark_partition_id()),
                  [F.col("__pid")]).drop("__pid")
    return sweep(local, [])


def cusum_changepoint(df: DataFrame, key_cols: list[str],
                      order_cols: list[str], value_col: str,
                      rank_decimals: int | None = None) -> DataFrame:
    """CUSUM change-point detection per key: the point where the
    cumulative sum of deviations from the series mean attains its
    maximum absolute value — the classic single-change-point location
    statistic (a mean shift at t makes |S_t| peak at t).

    Returns one row per key: the original columns of the peak row plus
    ``cusum_stat`` (max |S_t|) and ``n_points``. Deterministic: ties
    on |S_t| break on ``order_cols``; pass ``rank_decimals`` to pick
    the peak on the ROUNDED statistic — the cross-engine float
    discipline (the series mean is an unordered double aggregate, so
    two engines can disagree in the last ulp; rounding the rank key
    keeps the argmax identical — the q61 BM25 rule).

    Plan: ONE partition-sort window serves the running sum, while the
    series mean and length ride the same partition as frame-less
    window aggregates (no join, no second scan — the q30 markov
    lesson); the argmax is a row_number over the same partition.
    ``order_cols`` must totally order each key's rows.
    """
    wk = W.partitionBy(*key_cols)
    ws = wk.orderBy(*order_cols)
    wcum = ws.rowsBetween(W.unboundedPreceding, W.currentRow)
    # explicit Σ/n rather than avg(): with integer-quantized inputs
    # every sum is exact, so the whole statistic is ONE fixed double
    # expression tree — bit-identical across engines/partitionings
    # (the q07 cmat discipline; an avg() hides engine-specific
    # accumulation). rank_decimals then becomes unnecessary.
    mean = (F.sum(F.col(value_col)).over(wk)
            / F.count(F.lit(1)).over(wk))
    s = F.sum(F.col(value_col)).over(wcum) \
        - F.count(F.lit(1)).over(wcum) * mean
    scored = (df.withColumn("__s", F.abs(s))
              .withColumn("__n", F.count(F.lit(1)).over(wk)))
    rank_key = (F.round(F.col("__s"), rank_decimals)
                if rank_decimals is not None else F.col("__s"))
    pick = W.partitionBy(*key_cols).orderBy(rank_key.desc(),
                                            *order_cols)
    return (scored.withColumn("__rk", F.row_number().over(pick))
            .filter(F.col("__rk") == 1)
            .withColumnRenamed("__s", "cusum_stat")
            .withColumnRenamed("__n", "n_points")
            .drop("__rk"))


def equidepth_histogram(df: DataFrame, value_col: str,
                        n_buckets: int = 8) -> DataFrame:
    """EXACT equi-depth (equal-frequency) histogram — the optimizer /
    data-profiling statistic `ntile` would compute with a global sort,
    built instead in the distributed-exact two-phase shape:

    1. group rows to the distinct-VALUE table (one key shuffle over
       the data; output is |distinct values| rows, usually orders of
       magnitude smaller),
    2. exclusive cumulative count over that value table ordered by
       value, bucket = floor(cum_before · B / total) clamped to B−1,
    3. one grouped aggregate back to B rows.

    Ties are atomic: a value's whole count lands in one bucket (the
    standard whole-value equi-depth convention), so bucket depths are
    equal up to the largest tie group. NULLs are excluded. Returns
    (bucket, n_rows, n_values, lo, hi).

    The only non-key-partitioned step is the window over the DISTINCT
    VALUE table — the skyline rule: a SinglePartition exchange is fine
    when its input is frontier-sized, not data-sized (range-partition
    the value table first if distinct cardinality itself is huge).
    All arithmetic is integer counts, so both engines bucket
    identically — no float discipline needed. The q12 oracle
    re-derives every bucket row.
    """
    counts = (df.filter(F.col(value_col).isNotNull())
              .groupBy(value_col)
              .agg(F.count(F.lit(1)).alias("__c")))
    wcum = (W.orderBy(value_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = W.partitionBy()
    cum_before = F.sum("__c").over(wcum) - F.col("__c")
    total = F.sum("__c").over(wall)
    bucket = F.least(
        F.floor(cum_before * F.lit(int(n_buckets)) / total),
        F.lit(int(n_buckets) - 1)).cast("long")
    return (counts.select(F.col(value_col).alias("__v"),
                          "__c", bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.sum("__c").alias("n_rows"),
                 F.count(F.lit(1)).alias("n_values"),
                 F.min("__v").alias("lo"),
                 F.max("__v").alias("hi")))


def mann_whitney_u(df: DataFrame, variant_col: str, metric_col: str,
                   key_cols: list[str] | None = None,
                   variant_a: str = "a",
                   variant_b: str = "b") -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two variants —
    the nonparametric companion to ``welch_ttest`` for skewed metrics
    (revenue, latency) where mean comparisons mislead.

    Returns (keys…, n_a, n_b, u_stat, z_stat) per stratum:

        U_a = R_a − n_a(n_a+1)/2
        z   = (U_a − n_a·n_b/2) / σ,
        σ²  = n_a·n_b/12 · ((n+1) − T/(n(n−1))),  T = Σ_ties (t³−t)

    with average ranks for ties and the standard tie-corrected normal
    approximation. Strata where σ = 0 (all values tied) or either arm
    is empty yield NULL z.

    Plan: ranking is ONE partition-sort window per stratum (``rank``
    over the metric; the tie count rides the same sort as a
    (stratum, value)-partitioned count, so average ranks are pure
    arithmetic — no self-join with a distinct-values table). The tie
    term needs no per-value pass either: Σ_rows (t²−1) = Σ_values
    t(t²−1) = T, so it folds into the same grouped aggregate as the
    rank sums. Total cost: one window sort + one group exchange —
    the 100 TB shape. The q62 oracle reproduces ranks, tie term and
    z end-to-end.
    """
    key_cols = key_cols or []
    d = df.filter(F.col(metric_col).isNotNull()
                  & F.col(variant_col).isin([variant_a, variant_b]))
    wr = W.partitionBy(*key_cols).orderBy(metric_col)
    wt = W.partitionBy(*key_cols, metric_col)
    avg_rank = (F.rank().over(wr)
                + (F.count(F.lit(1)).over(wt) - F.lit(1)) / F.lit(2.0))
    tie_row = F.count(F.lit(1)).over(wt) ** 2 - F.lit(1.0)
    ranked = d.select(
        *key_cols, F.col(variant_col).alias("__v"),
        avg_rank.alias("__r"), tie_row.alias("__t"))
    is_a = F.col("__v") == variant_a
    g = ranked.groupBy(*key_cols).agg(
        F.count(F.when(is_a, 1)).alias("n_a"),
        F.count(F.when(~is_a, 1)).alias("n_b"),
        F.sum(F.when(is_a, F.col("__r"))).alias("__ra"),
        F.sum("__t").alias("__ties"))
    n = F.col("n_a") + F.col("n_b")
    u = F.col("__ra") - F.col("n_a") * (F.col("n_a") + 1) / F.lit(2.0)
    var = (F.col("n_a") * F.col("n_b") / F.lit(12.0)
           * ((n + 1) - F.col("__ties") / (n * (n - 1))))
    guard = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0)
    z = F.when(guard,
               (u - F.col("n_a") * F.col("n_b") / F.lit(2.0))
               / F.sqrt(var))
    return g.select(*key_cols, "n_a", "n_b", u.alias("u_stat"),
                    z.alias("z_stat"))


def ks_test(df: DataFrame, variant_col: str, metric_col: str,
            key_cols: list[str] | None = None,
            variant_a: str = "a",
            variant_b: str = "b") -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between two variants — the
    DISTRIBUTION-level A/B readout that completes the ``welch_ttest``
    (means) / ``mann_whitney_u`` (ranks) family: it detects shape
    changes (variance, tails, bimodality) that leave means and mean
    ranks untouched.

    Returns (keys…, n_a, n_b, d_stat, ks_stat, p_approx) per stratum:

        D  = sup_x |F_a(x) − F_b(x)|   (ECDFs evaluated at the pooled
                                        sample points)
        λ  = D · sqrt(n_a·n_b / (n_a + n_b))
        p ≈ min(1, 2·exp(−2λ²))        (first term of the Kolmogorov
                                        series — upper bound, exact
                                        enough for screening)

    Strata with an empty arm yield NULL D/λ/p.

    Plan: ONE grouped count collapses the data to per-(stratum, value)
    arm counts — the only full-data shuffle, with map-side partial
    aggregation — then the running ECDFs are a single partition-sort
    window over the DISTINCT-value table (bounded by value
    cardinality, not row count) with the arm totals as frame-less
    window sums over the same table, and D is a grouped max. The
    running sums are sequential by window semantics, so both engines
    produce bit-identical doubles from the same integer counts — the
    q62 oracle re-derives ECDFs, D, λ and p end-to-end.
    """
    key_cols = key_cols or []
    d = df.filter(F.col(metric_col).isNotNull()
                  & F.col(variant_col).isin([variant_a, variant_b]))
    is_a = F.col(variant_col) == variant_a
    vc = (d.groupBy(*key_cols, metric_col)
          .agg(F.count(F.when(is_a, 1)).cast("double").alias("__ca"),
               F.count(F.when(~is_a, 1)).cast("double").alias("__cb")))
    wrun = (W.partitionBy(*key_cols).orderBy(metric_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = W.partitionBy(*key_cols)
    cum = vc.select(
        *key_cols,
        F.sum("__ca").over(wrun).alias("__fa"),
        F.sum("__cb").over(wrun).alias("__fb"),
        F.sum("__ca").over(wall).alias("__na"),
        F.sum("__cb").over(wall).alias("__nb"))
    # try_divide: an empty arm (total 0) yields NULL gaps under ANSI
    # mode instead of erroring; the grouped max then ignores them and
    # the ok-guard below nulls the outputs.
    gap = F.abs(F.try_divide(F.col("__fa"), F.col("__na"))
                - F.try_divide(F.col("__fb"), F.col("__nb")))
    g = cum.groupBy(*key_cols).agg(
        F.max("__na").cast("long").alias("n_a"),
        F.max("__nb").cast("long").alias("n_b"),
        F.max(gap).alias("__d"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    dstat = F.when(ok, F.col("__d"))
    lam = F.when(ok, F.col("__d") * F.sqrt(na * nb / (na + nb)))
    p = F.when(ok, F.least(F.lit(1.0), F.lit(2.0) * F.exp(-2.0 * (
        F.col("__d") * F.sqrt(na * nb / (na + nb))) ** 2)))
    return g.select(*key_cols, "n_a", "n_b", dstat.alias("d_stat"),
                    lam.alias("ks_stat"), p.alias("p_approx"))


def chi2_independence(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson chi-squared test of independence between two
    categorical columns — the experiment-health check (sample-ratio
    mismatch, segment balance) and the categorical-association
    screen.

    Returns ONE row: (chi2, dof, n) with dof = (R−1)(C−1).

    Plan: one grouped count to the (a, b) cell table (tiny — category
    cardinality squared), marginals as frame-less window sums over
    the cell table (no join back), then a single-row aggregate. Zero
    cells contribute (0−e)²/e = e without being materialized:
    Σ_all e = n, so χ² = Σ_observed ((o−e)²/e − e) + n — the identity
    that keeps the plan free of a dense cell cross-join at any
    cardinality. The q62 oracle re-derives the same identity.
    """
    cells = (df.filter(F.col(col_a).isNotNull()
                       & F.col(col_b).isNotNull())
             .groupBy(col_a, col_b)
             .agg(F.count(F.lit(1)).cast("double").alias("__o")))
    wa = W.partitionBy(col_a)
    wb = W.partitionBy(col_b)
    wn = W.partitionBy()
    e = (F.sum("__o").over(wa) * F.sum("__o").over(wb)
         / F.sum("__o").over(wn))
    scored = cells.select(
        F.col(col_a), F.col(col_b), F.col("__o"),
        ((F.col("__o") - e) ** 2 / e - e).alias("__c"))
    return (scored.agg(
        (F.sum("__c") + F.sum("__o")).alias("chi2"),
        ((F.countDistinct(col_a) - 1)
         * (F.countDistinct(col_b) - 1)).cast("long").alias("dof"),
        F.sum("__o").cast("long").alias("n")))


def categorical_mi_cells(df: DataFrame, col_a: str,
                         col_b: str) -> DataFrame:
    """Pointwise mutual information table of two categorical columns
    → one row per OBSERVED cell: (a, b, n_ab, n, pmi) with
    pmi = ln(p(a,b) / (p(a)·p(b))) — the association strength behind
    collocation mining and feature-redundancy screens; the weighted
    sum Σ p(a,b)·pmi is the columns' mutual information (the caller's
    one-aggregate fold, see q36 ``mi``).

    Same plan shape as ``chi2_independence``: one grouped count to
    the cell table, marginals as window sums over it (category-
    cardinality-squared rows — tiny), no join back, no dense
    cross-join of unobserved cells (their p(a,b)·pmi term is 0 by
    the 0·ln 0 = 0 convention, so MI needs only observed cells).
    """
    cells = (df.filter(F.col(col_a).isNotNull()
                       & F.col(col_b).isNotNull())
             .groupBy(col_a, col_b)
             .agg(F.count(F.lit(1)).alias("n_ab")))
    o = F.col("n_ab").cast("double")
    na = F.sum(o).over(W.partitionBy(col_a))
    nb = F.sum(o).over(W.partitionBy(col_b))
    n = F.sum(o).over(W.partitionBy())
    return cells.select(
        F.col(col_a).alias("a"), F.col(col_b).alias("b"), "n_ab",
        n.cast("long").alias("n"),
        F.log(o * n / (na * nb)).alias("pmi"))


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cramér's V — the [0, 1]-normalized effect size of the χ²
    association: V = √(χ² / (n·(min(R,C) − 1))). One row:
    (n, chi2, v). Rides ``chi2_independence``'s single-aggregate plan
    with the min-cardinality term folded into the same pass."""
    cells = (df.filter(F.col(col_a).isNotNull()
                       & F.col(col_b).isNotNull())
             .groupBy(col_a, col_b)
             .agg(F.count(F.lit(1)).cast("double").alias("__o")))
    wa = W.partitionBy(col_a)
    wb = W.partitionBy(col_b)
    wn = W.partitionBy()
    e = (F.sum("__o").over(wa) * F.sum("__o").over(wb)
         / F.sum("__o").over(wn))
    scored = cells.select(
        F.col(col_a), F.col(col_b), F.col("__o"),
        ((F.col("__o") - e) ** 2 / e - e).alias("__c"))
    agg = scored.agg(
        (F.sum("__c") + F.sum("__o")).alias("chi2"),
        F.least(F.countDistinct(col_a),
                F.countDistinct(col_b)).cast("double").alias("__k"),
        F.sum("__o").alias("__n"))
    v = F.when(F.col("__k") > 1,
               F.sqrt(F.col("chi2") / (F.col("__n")
                                       * (F.col("__k") - 1))))
    return agg.select(F.col("__n").cast("long").alias("n"),
                      "chi2", v.alias("v"))


def acf(df: DataFrame, key_cols: list[str], order_cols: list[str],
        value_col: str, max_lag: int = 5) -> DataFrame:
    """Sample autocorrelation function per key: for each lag
    j = 1..max_lag,

        r_j = Σ_{t>j} (x_t − x̄)(x_{t−j} − x̄) / Σ_t (x_t − x̄)²

    — the classic biased ACF estimator (global series mean and
    variance in the denominator, the convention statsmodels/R use),
    the diagnostic behind seasonality detection and AR-order choice.

    Returns one row per (keys…, lag) with ``n_points`` (series
    length), ``n_pairs`` (overlapping pairs at that lag) and
    ``acf_r``; keys whose centered sum of squares is 0 (constant
    series) yield NULL r rather than 0/0.

    Plan: ONE partition-sort window serves every lagged term (each
    lag-j product is a codegen ``lag`` expression over the same sort —
    no self-join, no UDF), the series mean rides the partition as a
    frame-less window aggregate, then one grouped aggregate per key
    sums the products and an inline ``stack`` unpivots the per-lag
    columns to rows. Two shuffles total (window sort + final group),
    both on the key — the same shape at 100 TB. ``order_cols`` must
    totally order each key's rows (pass a unique tiebreaker).
    """
    wk = W.partitionBy(*key_cols)
    ws = wk.orderBy(*order_cols)
    mean = F.avg(value_col).over(wk)
    dev = F.col(value_col) - mean
    proj = [F.col(c) for c in key_cols] + [
        (dev * dev).alias("__d0"),
        F.col(value_col).alias("__x"),
        mean.alias("__m")]
    for j in range(1, int(max_lag) + 1):
        lj = F.lag(F.col(value_col), j).over(ws)
        proj.append(F.when(lj.isNotNull(), dev * (lj - mean))
                    .alias(f"__p{j}"))
    terms = df.select(*proj)
    aggs = [F.count(F.lit(1)).alias("n_points"),
            F.sum("__d0").alias("__ss")]
    for j in range(1, int(max_lag) + 1):
        aggs += [F.count(f"__p{j}").alias(f"__n{j}"),
                 F.sum(f"__p{j}").alias(f"__s{j}")]
    g = terms.groupBy(*key_cols).agg(*aggs)
    stack = ", ".join(
        f"{j}L, __n{j}, __s{j}" for j in range(1, int(max_lag) + 1))
    return (g.selectExpr(*key_cols, "n_points", "__ss",
                         f"stack({max_lag}, {stack}) "
                         "AS (lag, n_pairs, __s)")
            .select(*key_cols, "lag", "n_points", "n_pairs",
                    F.when(F.col("__ss") > 0,
                           F.col("__s") / F.col("__ss"))
                    .alias("acf_r")))


def welch_ttest(df: DataFrame, variant_col: str, metric_col: str,
                key_cols: list[str] | None = None,
                variant_a: str = "a",
                variant_b: str = "b") -> DataFrame:
    """Welch's unequal-variance t-test between two variants — the
    experiment-analysis (A/B) aggregate, per optional ``key_cols``
    stratum.

    Returns (keys…, n_a, n_b, mean_a, mean_b, mean_diff, t_stat, dof):

        t   = (m_a − m_b) / sqrt(s²_a/n_a + s²_b/n_b)
        dof = (s²_a/n_a + s²_b/n_b)² /
              ((s²_a/n_a)²/(n_a−1) + (s²_b/n_b)²/(n_b−1))

    with sample variances. ONE aggregation pass: both variants' n /
    mean / var come from conditional aggregates over the same scan —
    no per-variant filtering, no join, map-side partials all the way
    (the canonical 100 TB shape for a per-stratum test). Strata with
    n ≤ 1 on either side yield NULL t/dof rather than dividing by
    zero. The q62 oracle mirrors the exact formula arrangement.
    """
    key_cols = key_cols or []
    a = F.when(F.col(variant_col) == variant_a, F.col(metric_col))
    b = F.when(F.col(variant_col) == variant_b, F.col(metric_col))
    g = df.groupBy(*key_cols).agg(
        F.count(a).alias("n_a"), F.count(b).alias("n_b"),
        F.avg(a).alias("mean_a"), F.avg(b).alias("mean_b"),
        F.var_samp(a).alias("var_a"), F.var_samp(b).alias("var_b"))
    se2 = F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    guard = (F.col("n_a") > 1) & (F.col("n_b") > 1) & (se2 > 0)
    t = F.when(guard,
               (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2))
    dof = F.when(guard, se2 * se2 / (
        (F.col("var_a") / F.col("n_a")) ** 2 / (F.col("n_a") - 1)
        + (F.col("var_b") / F.col("n_b")) ** 2 / (F.col("n_b") - 1)))
    return g.select(
        *key_cols, "n_a", "n_b", "mean_a", "mean_b",
        (F.col("mean_a") - F.col("mean_b")).alias("mean_diff"),
        t.alias("t_stat"), dof.alias("dof"))


def mad_outlier_stats(df: DataFrame, value_col: str,
                      key_cols: list[str] | None = None,
                      z_cut: float = 3.5,
                      med_df: DataFrame | None = None) -> DataFrame:
    """Median-absolute-deviation robust outlier screen per group —
    the outlier detector that (unlike mean/std z-scores) is not
    itself dragged by the outliers it hunts:

        MAD = median(|x − median(x)|)
        modified z (Iglewicz–Hoaglin) = 0.6745·(x − median)/MAD
        outlier ⇔ |modified z| > ``z_cut``  (3.5 is the standard cut)

    Returns (keys…, n, med, mad, n_outliers). Zero MAD (more than
    half the group identical) yields NULL mad-derived outputs rather
    than dividing by zero.

    Plan: group medians (exact percentile aggregate — or reuse a
    caller-supplied ``med_df`` of (keys…, med) when the slot already
    computed group medians, as q54's base leg does), then deviation
    medians + group counts in ONE aggregate with the 1-row-per-group
    median broadcast back, then the outlier count with both
    broadcast: two data passes after the medians exist. Exact medians
    materialize per-group multisets; at 100 TB swap the percentile
    aggregates for the q55 KLL sketch (same output shape, bounded
    state) — the screen's robustness does not depend on median
    exactness.
    """
    key_cols = key_cols or []
    d = df.filter(F.col(value_col).isNotNull())
    if med_df is None:
        med_df = (d.groupBy(*key_cols)
                  .agg(F.percentile(value_col, F.lit(0.5))
                       .alias("med")))
    dev = (d.join(F.broadcast(med_df), key_cols) if key_cols
           else d.crossJoin(F.broadcast(med_df)))
    adev = F.abs(F.col(value_col) - F.col("med"))
    mad = (dev.groupBy(*key_cols)
           .agg(F.percentile(adev, F.lit(0.5)).alias("mad"),
                F.count(F.lit(1)).alias("n")))
    both = (dev.join(F.broadcast(mad), key_cols) if key_cols
            else dev.crossJoin(F.broadcast(mad)))
    is_out = ((F.col("mad") > 0)
              & (F.lit(0.6745) * adev / F.col("mad") > F.lit(z_cut)))
    return (both.groupBy(*key_cols)
            .agg(F.any_value("n").alias("n"),
                 F.any_value("med").alias("med"),
                 F.any_value("mad").alias("__mad"),
                 F.sum(F.when(is_out, 1).otherwise(0)).alias("__nout"))
            .select(*key_cols, "n", "med",
                    F.when(F.col("__mad") > 0, F.col("__mad"))
                     .alias("mad"),
                    F.when(F.col("__mad") > 0, F.col("__nout"))
                     .alias("n_outliers")))


def spearman_correlations(df: DataFrame,
                          pairs: list[tuple[str, str]]) -> DataFrame:
    """Spearman rank correlation for each (x, y) column pair — the
    monotonic-association complement to Pearson (q07 ``corr``):
    ρ = Pearson over average ranks, exact tie handling (tied values
    share the mean of the ranks they occupy).

    Rows with a NULL in ANY involved column are dropped first (one
    shared rank frame for all pairs, listwise like a rank matrix).

    Returns one row per pair: (x_col, y_col, rho); rho is NULL when
    either side is constant (zero rank variance).

    Determinism contract (r8, ADVICE r7): doubled average ranks
    (2·cnt_less + n + 1) are exact BIGINTs; rank sums and rank-product
    sums are EXACT at any N — products stay within int64 (max (2N)²,
    fine to N ~1.5e9) and are summed as DECIMAL(30,0) — so the
    aggregate is independent of partition order and thread count,
    full stop. The 1-row stats then convert to double and combine in
    a FIXED expression tree (each op one IEEE rounding). Cross-engine
    bit-parity additionally needs the exact-int→double conversions to
    agree: both the JVM's BigDecimal path and DuckDB's HUGEINT path
    are correctly rounded below 2⁶³, i.e. while 4N³/3 < 2⁶³
    (N ≲ 1.9e6 — every oracle-compared scale; sf1's 6M rows exceed it,
    where the engine stays exact/deterministic but DuckDB's two-word
    HUGEINT→double conversion may sit 1 ulp off).

    Plan: per-column distinct-value count tables; doubled average
    ranks via a TWO-LEVEL distributed prefix sum over the
    range-partitioned domain (each range partition computes its local
    before-me cumulative, partition totals prefix-sum into broadcast
    offsets — no single-partition sort anywhere, so a near-unique
    domain like price cents ranks at full parallelism); ranks joined
    back (AQE broadcasts the small domains), ONE
    sufficient-statistics aggregate, pairs exploded from the 1-row
    result. (A persist of the listwise frame was measured a wash at
    sf0.1 — the 1 + n_cols subtree scans cost what one
    materialization + cache reads cost — so the operator stays
    stateless.) At 100 TB quantize heavy-tailed value domains to a
    grid first if even the distinct table is huge — Spearman on the
    bucketed process equals Spearman of the bucketed ranks.
    """
    cols = sorted({c for p in pairs for c in p})
    d = df.select(*cols).na.drop()
    spark = df.sparkSession
    n_range = spark.sparkContext.defaultParallelism
    # r8: TWO-LEVEL distributed ranking instead of one global window.
    # A near-unique domain (price cents: ~N distinct values) made the
    # old single-partition cumulative window a serial sort of the
    # whole domain — the q07 spearman leg's bottleneck at sf0.1 and a
    # non-starter at 100 TB. The domain is split into ``n_range``
    # ORDER-PRESERVING buckets by a PURE FUNCTION of the value
    # (min/max-scaled) — NOT repartitionByRange + spark_partition_id,
    # whose sampled boundaries are re-drawn per subtree evaluation and
    # silently desynced the offsets branch from the ranks branch
    # (caught by the q07 oracle). Each bucket computes its local
    # before-me cumulative; bucket totals (≤n_range rows per column)
    # prefix-sum into offsets broadcast back. Ranks are a property of
    # the ordered multiset, so bucket skew affects parallelism only,
    # never values.
    #
    # r8 session 2: when every ranked column shares one dtype, ALL
    # rank tables are built in ONE melted pass (explode to
    # (column, value), one groupBy, one windowed prefix-sum, one
    # persisted rank table filtered per column at join time) — the
    # per-column builds cost ~0.7s of pure stage overhead EACH at
    # sf0.1 even for a 9-value domain (measured; 4.6s → 2.9s warm for
    # the q07 leg). Heterogeneous dtypes fall back to the per-column
    # loop (the melt array needs one element type; casting join keys
    # to a common type could collide past 2^53).
    dtypes = dict(d.dtypes)
    if len({dtypes[c] for c in cols}) == 1:
        melted = (d.select(F.explode(F.array(*[
            F.struct(F.lit(c).alias("c"), F.col(c).alias("v"))
            for c in cols])).alias("e"))
            .select(F.col("e.c").alias("__c"), F.col("e.v").alias("__v")))
        cnt = melted.groupBy("__c", "__v").agg(
            F.count(F.lit(1)).alias("__n"))
        mm = cnt.groupBy("__c").agg(F.min("__v").alias("__mn"),
                                    F.max("__v").alias("__mx"))
        vd = F.col("__v").cast("double")
        bkt = F.floor((vd - F.col("__mn")) * F.lit(float(n_range))
                      / (F.col("__mx") - F.col("__mn") + F.lit(1.0))) \
            .cast("int")
        cntb = (cnt.join(F.broadcast(mm), "__c")
                .select("__c", "__v", "__n", bkt.alias("__b")))
        w_in = (W.partitionBy("__c", "__b").orderBy("__v")
                .rowsBetween(W.unboundedPreceding, -1))
        loc = cntb.withColumn(
            "__cum_in", F.coalesce(F.sum("__n").over(w_in), F.lit(0)))
        w_off = (W.partitionBy("__c").orderBy("__b")
                 .rowsBetween(W.unboundedPreceding, -1))
        offs = (cntb.groupBy("__c", "__b")
                .agg(F.sum("__n").alias("__tot"))
                .withColumn("__off",
                            F.coalesce(F.sum("__tot").over(w_off),
                                       F.lit(0)))
                .select("__c", "__b", "__off"))

        rt_all = cache.persist(
            loc.join(F.broadcast(offs), ["__c", "__b"])
            .select("__c", "__v",
                    (2 * (F.col("__cum_in") + F.col("__off"))
                     + F.col("__n") + 1).alias("__r")))
        ranked = d
        for c in cols:
            ranked = ranked.join(
                rt_all.filter(F.col("__c") == c)
                .select(F.col("__v").alias(c),
                        F.col("__r").alias(f"__r_{c}")), c)
    else:
        # ONE min/max aggregate for every ranked column — per-column
        # aggregates cost a subtree each for a 1-row answer
        mm_all = d.agg(*[x for c in cols
                         for x in (F.min(c).alias(f"__mn_{c}"),
                                   F.max(c).alias(f"__mx_{c}"))])
        ranked = d
        for c in cols:
            cnt = d.groupBy(c).agg(F.count(F.lit(1)).alias("__n"))
            vd = F.col(c).cast("double")
            bkt = F.floor((vd - F.col(f"__mn_{c}"))
                          * F.lit(float(n_range))
                          / (F.col(f"__mx_{c}") - F.col(f"__mn_{c}")
                             + F.lit(1.0))) \
                .cast("int")
            cnt = (cnt.crossJoin(F.broadcast(mm_all))
                   .select(c, "__n", bkt.alias("__b")))
            w_in = (W.partitionBy("__b").orderBy(c)
                    .rowsBetween(W.unboundedPreceding, -1))
            loc = cnt.withColumn(
                "__cum_in", F.coalesce(F.sum("__n").over(w_in), F.lit(0)))
            w_off = (W.orderBy("__b")
                     .rowsBetween(W.unboundedPreceding, -1))
            offs = (cnt.groupBy("__b")
                    .agg(F.sum("__n").alias("__tot"))
                    .withColumn("__off",
                                F.coalesce(F.sum("__tot").over(w_off),
                                           F.lit(0)))
                    .select("__b", "__off"))
            rt = (loc.join(F.broadcast(offs), "__b")
                  .select(c,
                          (2 * (F.col("__cum_in") + F.col("__off"))
                           + F.col("__n") + 1)
                          .alias(f"__r_{c}")))
            ranked = ranked.join(rt, c)

    def _exact_sum(expr: Column) -> Column:
        # int64 products summed as DECIMAL(30,0): exact at any N, then
        # ONE correctly-rounded conversion to double (see docstring)
        return F.sum(expr.cast("decimal(20,0)")).cast("double")

    aggs = [F.count(F.lit(1)).cast("double").alias("__N")]
    for c in cols:
        r = F.col(f"__r_{c}")
        aggs.append(_exact_sum(r).alias(f"__s_{c}"))
        aggs.append(_exact_sum(r * r).alias(f"__ss_{c}"))
    for x, y in pairs:
        aggs.append(_exact_sum(F.col(f"__r_{x}") * F.col(f"__r_{y}"))
                    .alias(f"__sp_{x}_{y}"))
    row = ranked.agg(*aggs)

    def _rho(x: str, y: str) -> Column:
        n = F.col("__N")
        num = n * F.col(f"__sp_{x}_{y}") - F.col(f"__s_{x}") * F.col(f"__s_{y}")
        vx = n * F.col(f"__ss_{x}") - F.col(f"__s_{x}") * F.col(f"__s_{x}")
        vy = n * F.col(f"__ss_{y}") - F.col(f"__s_{y}") * F.col(f"__s_{y}")
        return F.when((vx > 0) & (vy > 0), num / F.sqrt(vx * vy))

    out = F.array(*[
        F.struct(F.lit(x).alias("x_col"), F.lit(y).alias("y_col"),
                 _rho(x, y).alias("rho"))
        for x, y in pairs])
    return (row.select(F.explode(out).alias("__p"))
            .select("__p.*"))


def anova_oneway(df: DataFrame, value_col: str,
                 group_col: str) -> DataFrame:
    """One-way ANOVA F statistic across the levels of ``group_col`` —
    the k-group generalization of the two-arm t-test (does ANY group
    mean differ?), the standard gate before pairwise comparisons.

    Returns ONE row (k, n, ss_between, ss_within, f_stat):

        ss_between = Σ_g n_g·(m_g − m)²
        ss_within  = Σ_g (n_g − 1)·s²_g
        F = (ss_between/(k−1)) / (ss_within/(n−k))

    ONE aggregation pass to the k-row group table — per group, the
    SUFFICIENT STATISTICS (n, Σv, Σv²), not mean/var: like the q07
    covariance matrix, closed forms over per-group sums give an
    expression tree the oracle can mirror verbatim, and with
    integer-quantized inputs the group sums are exact (int64) so the
    derived doubles are bit-identical cross-engine up to the tiny
    k-term across-group sum (k ~ group count, ulp-level). Then:

        ss_within  = Σ_g (q_g − s_g²/n_g)
        ss_between = Σ_g s_g²/n_g − S²/n      (S = Σ s_g)
        F = (ss_between/(k−1)) / (ss_within/(n−k))

    Degenerate guards: k < 2 or n ≤ k or zero within-variance yields
    NULL F. The q62 oracle mirrors the exact formula arrangement.
    """
    integral = {"tinyint", "smallint", "int", "bigint"}
    exact = dict(df.dtypes).get(value_col) in integral
    v = (F.col(value_col).cast("bigint") if exact
         else F.col(value_col).cast("double"))
    g = (df.filter(F.col(value_col).isNotNull())
         .groupBy(group_col)
         .agg(F.count(F.lit(1)).cast("double").alias("__n"),
              F.sum(v).cast("double").alias("__s"),
              F.sum(v * v).cast("double").alias("__q")))
    sg2n = F.col("__s") * F.col("__s") / F.col("__n")
    agg = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__n").cast("long").alias("n"),
        F.sum("__s").alias("__S"),
        F.sum(sg2n).alias("__bsum"),
        F.sum(F.col("__q") - sg2n).alias("ss_within"))
    ssb = (F.col("__bsum")
           - F.col("__S") * F.col("__S") / F.col("n"))
    guard = ((F.col("k") > 1) & (F.col("n") > F.col("k"))
             & (F.col("ss_within") > 0))
    f = F.when(guard, (ssb / (F.col("k") - 1))
               / (F.col("ss_within") / (F.col("n") - F.col("k"))))
    return agg.select("k", "n", ssb.alias("ss_between"),
                      "ss_within", f.alias("f_stat"))


def bh_adjust(df: DataFrame, p_col: str, alpha: float = 0.05,
              tiebreak_cols: list[str] | None = None) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment over a frame of per-test
    p-values — the multiple-testing correction every per-stratum
    test family (Welch/MWU/KS per segment) needs before anyone acts
    on "significant" strata.

    Adds (bh_rank, p_adj, rejected):
        p_adj(i)  = min_{j ≥ i} ( m·p_(j) / j )   (capped at 1)
        rejected  = p_adj ≤ alpha                  (equivalent to the
                    classic max-k step-up rule)

    Pure window algebra over the TEST table (one row per test — tiny
    by construction, m = COUNT(*) rides as a window aggregate, no
    collect): rank by (p, ``tiebreak_cols``), then a running min over
    the suffix in descending-rank order. Equal p's get equal p_adj by
    the running-min regardless of tie order, but pass
    ``tiebreak_cols`` whenever bh_rank itself is compared
    cross-engine. NULL p-values pass through unadjusted
    (rejected NULL).
    """
    tb = [F.col(c).asc() for c in (tiebreak_cols or [])]
    wm = W.partitionBy()
    rnk = W.partitionBy().orderBy(F.col(p_col).asc(), *tb)
    suffix_min = (W.partitionBy()
                  .orderBy(F.col("bh_rank").desc())
                  .rowsBetween(W.unboundedPreceding, W.currentRow))
    with_rank = (df.filter(F.col(p_col).isNotNull())
                 .withColumn("__m", F.count(F.lit(1)).over(wm))
                 .withColumn("bh_rank", F.row_number().over(rnk)))
    adj = (with_rank
           .withColumn("p_adj",
                       F.least(F.lit(1.0),
                               F.min(F.col("__m") * F.col(p_col)
                                     / F.col("bh_rank"))
                               .over(suffix_min)))
           .withColumn("rejected", F.col("p_adj") <= F.lit(float(alpha)))
           .drop("__m"))
    nulls = (df.filter(F.col(p_col).isNull())
             .withColumn("bh_rank", F.lit(None).cast("int"))
             .withColumn("p_adj", F.lit(None).cast("double"))
             .withColumn("rejected", F.lit(None).cast("boolean")))
    return adj.unionByName(nulls)


def rrf_fuse(rankings: DataFrame, query_col: str = "query_id",
             id_col: str = "doc_id", rank_col: str = "rnk",
             k0: int = 60, top_k: int = 5,
             rank_decimals: int = 6) -> DataFrame:
    """Reciprocal-rank fusion of truncated rankings from multiple
    retrieval sources:  score(q, d) = Σ_sources 1/(k0 + rank) — the
    standard Cormack/Clarke combiner for hybrid (lexical + dense)
    retrieval. Input is the UNION of per-source rankings
    (query, id, rank); items missing from a source's list simply
    contribute nothing (truncated-list RRF).

    Returns (query, id, rrf_score, n_sources, rnk) for the fused
    top-``top_k``, ranked on (round(score, rank_decimals) DESC, id).
    With two sources the score is a two-addend IEEE sum (exactly
    commutative), and ranks are small integers, so both engines agree
    bit-for-bit; the rounding guard covers wider fan-ins where
    summation order varies. One grouped aggregate over lists of
    length Σ k_source per query + one window — trivially scalable.
    """
    g = (rankings.groupBy(query_col, id_col)
         .agg(F.sum(F.lit(1.0) / (F.lit(int(k0)) + F.col(rank_col)))
              .alias("rrf_score"),
              F.count(F.lit(1)).alias("n_sources")))
    w = W.partitionBy(query_col).orderBy(
        F.round("rrf_score", rank_decimals).desc(), id_col)
    return (g.withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= int(top_k)))


def seasonal_decompose(df: DataFrame, key_cols: list[str],
                       order_cols: list[str], value_col: str,
                       period: int = 6, half_window: int = 3) -> DataFrame:
    """Classic additive seasonal decomposition per key:

        trend_t    = centered moving average (±half_window rows,
                     NULL unless the window is full — the standard
                     edge convention)
        seasonal_t = mean of (x − trend) over the key's rows sharing
                     t's phase (position mod ``period``)
        resid_t    = x − trend − seasonal

    The moving-average decomposition (the first stage of STL, without
    the loess refinement); phases are POSITIONAL (row index mod
    period) so irregular sampling decomposes deterministically.
    Convention notes, mirrored by the oracle: seasonal means are the
    raw phase means of the detrended series (no grand-mean
    re-centering), and the detrended values are quantized to 1e−6
    ("micro-units") before the phase mean — float discipline, not
    statistics: the trend is an EXPLICIT lag/lead chain summed
    left-to-right (the EWMA trick — a windowed AVG would sum in
    engine-specific order, e.g. DuckDB's segment trees), and phase
    SUMs over integral micro-units are exact in double regardless of
    accumulation order, so every resid is bit-identical across
    engines instead of drifting an ulp at rounding boundaries.

    Plan: ONE partition-sort window serves the row index and every
    lag/lead term; the phase means ride a second frame-less window on
    (key, phase) — no join, no second scan. Returns the input plus
    (pos, phase, trend, seasonal, resid).
    """
    ws = W.partitionBy(*key_cols).orderBy(*order_cols)
    pos = F.row_number().over(ws) - F.lit(1)
    h = int(half_window)
    terms = [F.lag(F.col(value_col), j).over(ws) for j in range(h, 0, -1)]
    terms += [F.col(value_col)]
    terms += [F.lead(F.col(value_col), j).over(ws)
              for j in range(1, h + 1)]
    total: Column = F.lit(0.0)
    present: Column = F.lit(0)
    for t in terms:
        total = total + F.coalesce(t, F.lit(0.0))
        present = present + F.when(t.isNotNull(), 1).otherwise(0)
    trend = F.when(present == (2 * h + 1), total / F.lit(2 * h + 1.0))
    base = (df.withColumn("pos", pos.cast("long"))
            .withColumn("phase", (pos % int(period)).cast("long"))
            .withColumn("trend", trend))
    d_micro = F.round((F.col(value_col) - F.col("trend")) * 1e6, 0)
    base = base.withColumn("__dm", d_micro)
    wp = W.partitionBy(*key_cols, "phase")
    seasonal_micro = F.sum("__dm").over(wp) / F.count("__dm").over(wp)
    return (base.withColumn("seasonal", seasonal_micro / F.lit(1e6))
            .withColumn("resid_micro", F.col("__dm") - seasonal_micro)
            .withColumn("resid", F.col("resid_micro") / F.lit(1e6))
            .drop("__dm"))


def weighted_percentiles_step(df: DataFrame, key_cols: list[str],
                              value_col: str, weight_col: str,
                              ps: list[float]) -> DataFrame:
    """Exact WEIGHTED percentiles per key, step convention: the p-th
    weighted percentile is the smallest value v whose cumulative
    weight reaches p·W (the inverse of the weighted empirical CDF —
    no interpolation, so there is exactly one correct answer and any
    engine that sums the same weights returns the identical value).
    The weighted-data companion to ``exact_percentiles`` — "the price
    below which 50% of the QUANTITY traded", survey-weighted medians,
    token-weighted document-length quantiles.

    Plan: distinct-(key, value) weight aggregate → one cumulative
    window over the frontier-sized distinct table (same shape as the
    exact-percentile position construction — never a data sort) →
    one conditional-min aggregate per requested p. Weights must be
    non-negative; NULL values/weights drop.
    """
    vc = (df.filter(F.col(value_col).isNotNull()
                    & F.col(weight_col).isNotNull())
          .groupBy(*key_cols, value_col)
          .agg(F.sum(F.col(weight_col).cast("double")).alias("__w")))
    wcum = W.partitionBy(*key_cols).orderBy(value_col)
    cum = F.sum("__w").over(wcum)
    tot = F.sum("__w").over(W.partitionBy(*key_cols))
    scored = vc.select(*key_cols, F.col(value_col), "__w",
                       cum.alias("__cum"), tot.alias("__tot"))
    aggs = [F.min(F.when(F.col("__cum") >= p * F.col("__tot"),
                         F.col(value_col))).alias(f"wp{int(p * 100)}")
            for p in ps]
    return scored.groupBy(*key_cols).agg(*aggs)


def exact_percentiles(df: DataFrame, value_col: str,
                      ps: list[float],
                      key_cols: list[str] | None = None) -> DataFrame:
    """EXACT linearly-interpolated percentiles (the percentile_cont /
    numpy-linear convention: position h = (n−1)·p over the sorted
    multiset) — without sorting the data: rows group to the
    distinct-VALUE table per key, a cumulative count assigns each
    value its 0-based position range [start, start+c−1], and each
    requested percentile reads its two bracketing positions via
    conditional aggregation over that (frontier-sized) table — the
    ``equidepth_histogram`` shape, so the only non-key exchange
    touches distinct values, never rows.

    Returns one row per (keys…, p) with ``value``. NULLs excluded;
    empty groups vanish. ``ps`` are Python literals embedded on both
    engine and oracle sides, so h and the interpolation weights are
    identical doubles.
    """
    key_cols = key_cols or []
    counts = (df.filter(F.col(value_col).isNotNull())
              .groupBy(*key_cols, value_col)
              .agg(F.count(F.lit(1)).alias("__c")))
    wcum = (W.partitionBy(*key_cols).orderBy(value_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = W.partitionBy(*key_cols)
    with_pos = counts.select(
        *key_cols, F.col(value_col).alias("__v"), "__c",
        (F.sum("__c").over(wcum) - F.col("__c")).alias("__start"),
        F.sum("__c").over(wall).alias("__n"))
    aggs = []
    for i, p in enumerate(ps):
        h = (F.col("__n") - 1) * F.lit(float(p))
        k1, k2 = F.floor(h), F.ceil(h)
        in1 = (F.col("__start") <= k1) & (k1 < F.col("__start") + F.col("__c"))
        in2 = (F.col("__start") <= k2) & (k2 < F.col("__start") + F.col("__c"))
        aggs += [F.max(F.when(in1, F.col("__v"))).alias(f"__v1_{i}"),
                 F.max(F.when(in2, F.col("__v"))).alias(f"__v2_{i}"),
                 F.max(F.when(in1, h - k1)).alias(f"__f_{i}")]
    g = with_pos.groupBy(*key_cols).agg(*aggs)
    outs = []
    for i, p in enumerate(ps):
        v1, v2, f = (F.col(f"__v1_{i}"), F.col(f"__v2_{i}"),
                     F.col(f"__f_{i}"))
        outs.append(F.struct(F.lit(float(p)).alias("p"),
                             (v1 + f * (v2 - v1)).alias("value")))
    return (g.select(*key_cols,
                     F.explode(F.array(*outs)).alias("__q"))
            .select(*key_cols, F.col("__q.p").alias("p"),
                    F.col("__q.value").alias("value")))


def winsorize(df: DataFrame, value_col: str,
              p_lo: float = 0.05, p_hi: float = 0.95,
              key_cols: list[str] | None = None,
              out_col: str = "winsorized") -> DataFrame:
    """Winsorization: clamp each row's value to its group's exact
    interpolated [p_lo, p_hi] percentile caps — the outlier treatment
    that bounds influence without dropping rows (the robust
    alternative to trimming before means/regressions).

    Plan: caps come from ``exact_percentiles`` (distinct-value table,
    no data sort) and join back on the key — group-cardinality
    broadcast in practice. Adds ``out_col`` plus ``lo_cap`` /
    ``hi_cap`` / ``was_capped``. NULL values pass through unclamped
    (was_capped NULL).
    """
    key_cols = key_cols or []
    caps = (exact_percentiles(df, value_col, [p_lo, p_hi], key_cols)
            .groupBy(*key_cols)
            .agg(F.max(F.when(F.col("p") == float(p_lo), F.col("value")))
                 .alias("lo_cap"),
                 F.max(F.when(F.col("p") == float(p_hi), F.col("value")))
                 .alias("hi_cap")))
    joined = (df.join(F.broadcast(caps), key_cols)
              if key_cols else df.crossJoin(F.broadcast(caps)))
    y = F.col(value_col)
    # guard the clamp: greatest/least SKIP nulls, so an unguarded
    # NULL value would come out as lo_cap — honour the documented
    # "NULL passes through unclamped" contract instead (ADVICE r5)
    clamped = F.when(
        y.isNotNull(),
        F.least(F.greatest(y, F.col("lo_cap")), F.col("hi_cap")))
    return (joined.withColumn(out_col, clamped)
            .withColumn("was_capped",
                        F.when(y.isNotNull(), y != clamped)))


# Poisson(1) CDF as EXACT 32-bit integer thresholds (floor(cdf·2³²),
# precomputed): weight = #{t : u ≥ t} for a uniform 32-bit hash u.
# Integer comparisons end-to-end — no float CDF on either engine.
POISSON1_THRESHOLDS = [1580030168, 3160060337, 3950075421,
                       4213413783, 4279248373, 4292415291]

# The same thresholds as zero-padded lowercase hex: an 8-char
# lower-hex string compares LEXICOGRAPHICALLY exactly as its numeric
# value ('0'-'9' < 'a'-'f' in every collation both engines use), so a
# weight can be read straight off an md5 hex lane with string
# comparisons — no radix conversion per lane (r7: conv() was ~half
# the q62 boot phase).
POISSON1_THRESHOLDS_HEX = [f"{t:08x}" for t in POISSON1_THRESHOLDS]


def poisson_weight_expr(u: Column) -> Column:
    """Poisson(1) bootstrap weight from a uniform 32-bit integer hash
    (capped at 6 — cumulative mass beyond is < 6e-4)."""
    w: Column = F.lit(0)
    for t in POISSON1_THRESHOLDS:
        w = w + F.when(u >= F.lit(t), 1).otherwise(0)
    return w


def poisson_weight_hex_expr(lane: Column) -> Column:
    """Poisson(1) bootstrap weight from an 8-char lowercase-hex lane
    (numerically identical to ``poisson_weight_expr`` on the lane's
    integer value — see POISSON1_THRESHOLDS_HEX)."""
    w: Column = F.lit(0)
    for t in POISSON1_THRESHOLDS_HEX:
        w = w + F.when(lane >= F.lit(t), 1).otherwise(0)
    return w


def poisson_bootstrap_ci(df: DataFrame, id_col: str, variant_col: str,
                         metric_col: str, n_boot: int = 50,
                         alpha: float = 0.05, salt: str = "boot",
                         variant_a: str = "a", variant_b: str = "b",
                         diff_decimals: int = 4) -> DataFrame:
    """Bootstrap confidence interval for the A/B mean difference via
    the POISSON bootstrap — the resampling scheme that actually
    distributes: instead of drawing n rows with replacement (which
    needs global coordination), every row independently contributes
    a Poisson(1) weight per replicate, derived here from a salted md5
    so the "randomness" is engine-independent and the q62 oracle
    re-derives every weight from integer threshold comparisons.

    r7: one md5 carries FOUR replicates — an md5 digest is 128 bits
    and a weight needs a uniform 32-bit lane, so replicate
    b = 4·g + lane reads hex chars [8·lane+1, 8·lane+8] of
    md5(salt:g:id). Hashing was the dominant cost of the all-in-one
    per-replicate form (one md5 per exploded row = n_boot per input
    row); the lane form hashes ⌈n_boot/4⌉ per input row and never
    materializes the n_boot-fold row fan-out at all — per-lane
    weights are aggregated as SEPARATE conditional sums per hash
    group and unpacked to (replicate, sums) AFTER the aggregate
    (4·⌈n_boot/4⌉ tiny rows). With the hex-lane weight reads
    (``poisson_weight_hex_expr``) this measured 2.2× on the q62 boot
    phase at sf0.1 (5.7s → 2.7s).

    Returns ONE row: (n_boot_effective, diff_obs, ci_lo, ci_hi) —
    the observed unweighted mean difference and the percentile-
    bootstrap [α/2, 1−α/2] interval over replicate diffs. Replicates
    where either arm drew zero total weight are dropped (counted out
    of n_boot_effective). Replicate diffs are ROUNDED to
    ``diff_decimals`` before the percentile selection — the float
    discipline that keeps the order statistics identical across
    engines (weighted sums are unordered double aggregates).

    Plan: rows explode ×⌈n_boot/4⌉ (bounded fan-out, one md5 each),
    one grouped conditional aggregate (4 lanes × 4 sums wide) to the
    ⌈n_boot/4⌉-row group table, inline-unpacked to the n_boot-row
    replicate table, then the ``exact_percentiles`` position
    construction over that tiny table. At 100 TB the explode
    dominates — ⌈n_boot/4⌉·rows map-side work, one shuffle of
    partial-aggregated group rows per task.
    """
    n_grp = (int(n_boot) + 3) // 4
    d = df.filter(F.col(metric_col).isNotNull()
                  & F.col(variant_col).isin([variant_a, variant_b]))
    rows = d.select(
        F.col(variant_col).alias("__v"),
        F.col(metric_col).alias("__y"),
        F.col(id_col).cast("string").alias("__id"),
        F.explode(F.sequence(F.lit(0), F.lit(n_grp - 1))).alias("__g"))
    h = F.md5(F.concat(F.lit(salt + ":"),
                       F.col("__g").cast("string"),
                       F.lit(":"), F.col("__id")))
    lanes = range(4)
    is_a = F.col("__v") == variant_a
    # project the digest ONCE and pre-split the metric by arm, then
    # read each lane's weight straight off the hex digest (string
    # threshold compares — no per-lane radix conversion) so the
    # per-lane aggregates below are plain products, not branches
    wide = rows.select(
        "__g",
        F.when(is_a, F.col("__y")).alias("__ya"),
        F.when(is_a, F.lit(1.0)).alias("__ia"),
        F.when(~is_a, F.col("__y")).alias("__yb"),
        F.when(~is_a, F.lit(1.0)).alias("__ib"),
        *[poisson_weight_hex_expr(F.substring(h, 1 + 8 * lane, 8))
          .cast("double").alias(f"__w{lane}")
          for lane in lanes])
    aggs = []
    for lane in lanes:
        w = F.col(f"__w{lane}")
        aggs += [
            F.sum(w * F.col("__ya")).alias(f"sa{lane}"),
            F.sum(w * F.col("__ia")).alias(f"na{lane}"),
            F.sum(w * F.col("__yb")).alias(f"sb{lane}"),
            F.sum(w * F.col("__ib")).alias(f"nb{lane}")]
    grp = wide.groupBy("__g").agg(*aggs)
    unpacked = [F.struct(
        (F.col("__g") * 4 + lane).alias("b"),
        F.col(f"sa{lane}").alias("sa"), F.col(f"na{lane}").alias("na"),
        F.col(f"sb{lane}").alias("sb"), F.col(f"nb{lane}").alias("nb"))
        for lane in lanes]
    reps = (grp.select(F.inline(F.array(*unpacked)))
            .filter(F.col("b") < int(n_boot))
            .filter((F.col("na") > 0) & (F.col("nb") > 0))
            .select(F.round(F.col("sa") / F.col("na")
                            - F.col("sb") / F.col("nb"),
                            diff_decimals).alias("diff")))
    ci = (exact_percentiles(reps, "diff",
                            [alpha / 2.0, 1.0 - alpha / 2.0])
          .groupBy()
          .agg(F.max(F.when(F.col("p") == alpha / 2.0, F.col("value")))
               .alias("ci_lo"),
               F.max(F.when(F.col("p") == 1.0 - alpha / 2.0,
                            F.col("value"))).alias("ci_hi")))
    raw_a = F.col(variant_col) == variant_a
    obs = d.agg(
        (F.avg(F.when(raw_a, F.col(metric_col)))
         - F.avg(F.when(~raw_a, F.col(metric_col)))).alias("diff_obs"))
    eff = reps.agg(F.count(F.lit(1)).alias("n_boot_effective"))
    return (eff.crossJoin(F.broadcast(obs))
            .crossJoin(F.broadcast(ci))
            .select("n_boot_effective", "diff_obs", "ci_lo", "ci_hi"))


def gini_coefficient(df: DataFrame, value_col: str,
                     key_cols: list[str] | None = None) -> DataFrame:
    """Gini concentration coefficient per key — the inequality
    diagnostic (revenue concentration, partition-size skew, token
    frequency inequality):

        G = 2·Σ_i i·x_(i) / (n·Σx) − (n+1)/n      (x ascending)

    computed WITHOUT sorting the data: a tie block of value v with
    count c at exclusive cumulative position p contributes
    v·(c·p + c(c+1)/2) to the rank-weighted sum, so the whole
    statistic reads off the distinct-value table — the
    ``equidepth_histogram`` / ``exact_percentiles`` shape again (one
    key shuffle to distinct values, a frontier-sized cumulative
    window, one aggregate). Negative values are rejected by guard
    (Gini is defined for non-negative distributions); NULLs are
    excluded; a single-row or all-zero group yields G = NULL.

    Returns (keys…, n_rows, total, gini).
    """
    key_cols = key_cols or []
    counts = (df.filter(F.col(value_col).isNotNull())
              .groupBy(*key_cols, value_col)
              .agg(F.count(F.lit(1)).alias("__c")))
    wcum = (W.partitionBy(*key_cols).orderBy(value_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    p = F.sum("__c").over(wcum) - F.col("__c")
    v = F.col(value_col)
    block = v * (F.col("__c") * p
                 + F.col("__c") * (F.col("__c") + 1) / F.lit(2.0))
    g = (counts.withColumn("__rw", block)
         .withColumn("__neg", F.when(v < 0, 1).otherwise(0))
         .groupBy(*key_cols)
         .agg(F.sum("__c").alias("n_rows"),
              F.sum(v * F.col("__c")).alias("total"),
              F.sum("__rw").alias("__rwsum"),
              F.sum("__neg").alias("__nneg")))
    n, t = F.col("n_rows"), F.col("total")
    guard = (F.col("__nneg") == 0) & (n > 1) & (t > 0)
    gini = F.when(guard,
                  F.lit(2.0) * F.col("__rwsum") / (n * t)
                  - (n + 1) / n)
    return g.select(*key_cols, "n_rows", "total", gini.alias("gini"))


def cuped_estimate(per_unit: DataFrame, x_col: str = "xq",
                   y_col: str = "yq", variant_col: str = "variant",
                   a_label: str = "a") -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) — the industry-
    standard A/B-test adjustment: regress the experiment metric Y on a
    pre-experiment covariate X and analyze Y_adj = Y − θ·(X − X̄),
    θ = cov(X, Y)/var(X) pooled over both variants.

    Runs as ONE sufficient-statistics aggregate over per-unit rows.
    ``x_col``/``y_col`` MUST be exact integers (micro-quantized
    pre/post unit metrics — the q07-cmat discipline): every sum below
    is then exact and partition-order invariant, and θ, the adjusted
    effect, and the variance-reduction readout are a FIXED double
    expression tree over identical operands on any engine.

    The adjusted per-unit values are never materialized — the variant
    means of Y_adj collapse algebraically to
    mean(Y|v) − θ·(mean(X|v) − mean(X)), and
    var(Y_adj) = var(Y) − cov²(X,Y)/var(X), so the whole estimator
    reads off the one aggregate row. Degenerate guards: var(X) = 0 →
    θ, adjusted effect and reduction are NULL; a missing variant
    leaves its mean (and both effects) NULL.

    Returns 1 row: (n, n_a, n_b, theta, raw_effect, adj_effect,
    var_y, var_adj, var_reduction_pct) in the UNITS of x/y (callers
    rescale). 100 TB: per-unit rows are one upstream aggregate over
    the event stream; this is a second tiny aggregate — no sorts, no
    windows, map-side partial everywhere.
    """
    is_a = (F.col(variant_col) == a_label).cast("long")
    is_b = (F.col(variant_col) != a_label).cast("long")
    x, y = F.col(x_col), F.col(y_col)
    g = per_unit.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(is_a).alias("n_a"), F.sum(is_b).alias("n_b"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
        F.sum(is_a * x).alias("sx_a"), F.sum(is_a * y).alias("sy_a"),
        F.sum(is_b * x).alias("sx_b"), F.sum(is_b * y).alias("sy_b"))
    # exact BIGINT sums → one cast each to double (exact while the
    # caller keeps Σx² < 2^53 — the quantization-grid contract), then
    # every derived quantity is a fixed all-double expression tree;
    # long×long products like sx·sy would overflow int64, doubles
    # cannot. Oracle mirrors with CAST(SUM(..) AS DOUBLE).
    g = g.select("n", "n_a", "n_b",
                 *[F.col(c).cast("double").alias(c)
                   for c in ("sx", "sy", "sxx", "sxy", "syy",
                             "sx_a", "sy_a", "sx_b", "sy_b")])
    n = F.col("n").cast("double")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / n
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / n
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / n) / n
    theta = F.when(var_x > 0, cov / var_x)
    mean = lambda s, c: F.when(F.col(c) > 0, F.col(s) / F.col(c))  # noqa: E731
    raw = mean("sy_a", "n_a") - mean("sy_b", "n_b")
    adj = raw - theta * (mean("sx_a", "n_a") - mean("sx_b", "n_b"))
    var_adj = F.when(var_x > 0, var_y - cov * cov / var_x)
    vr = F.when((var_x > 0) & (var_y > 0),
                F.lit(100.0) * (cov * cov / (var_x * var_y)))
    return g.select("n", "n_a", "n_b", theta.alias("theta"),
                    raw.alias("raw_effect"), adj.alias("adj_effect"),
                    var_y.alias("var_y"), var_adj.alias("var_adj"),
                    vr.alias("var_reduction_pct"))


def diff_in_diff(df: DataFrame, variant_col: str = "variant",
                 post_col: str = "is_post", value_col: str = "vq",
                 a_label: str = "a") -> DataFrame:
    """Difference-in-differences over a 2×2 (variant × period) design:
    DiD = (mean_a_post − mean_a_pre) − (mean_b_post − mean_b_pre).

    ONE aggregate over the event stream; ``value_col`` must be an
    exact integer (quantized metric), so each cell's (sum, n) is
    exact and every mean is the same integer-ratio double on any
    engine. Returns 1 row: the four cell means plus pre_diff,
    post_diff and the DiD estimate (NULL if any cell is empty) in
    value units. 100 TB: a 4-cell map-side-combined aggregate."""
    a = (F.col(variant_col) == a_label).cast("long")
    b = (F.col(variant_col) != a_label).cast("long")
    post = F.col(post_col).cast("long")
    pre = (1 - post)
    v = F.col(value_col)

    def cell(tag: Column) -> tuple[Column, Column]:
        return F.sum(tag * v), F.sum(tag)

    cells = {}
    for name, tag in (("a_pre", a * pre), ("a_post", a * post),
                      ("b_pre", b * pre), ("b_post", b * post)):
        s, c = cell(tag)
        cells[name] = (s.alias(f"s_{name}"), c.alias(f"c_{name}"))
    g = df.agg(*[x for pair in cells.values() for x in pair])
    m = {name: F.when(F.col(f"c_{name}") > 0,
                      F.col(f"s_{name}") / F.col(f"c_{name}"))
         for name in cells}
    pre_diff = m["a_pre"] - m["b_pre"]
    post_diff = m["a_post"] - m["b_post"]
    did = (m["a_post"] - m["a_pre"]) - (m["b_post"] - m["b_pre"])
    return g.select(
        (F.col("c_a_pre") + F.col("c_b_pre")).alias("n_pre"),
        (F.col("c_a_post") + F.col("c_b_post")).alias("n_post"),
        m["a_pre"].alias("mean_a_pre"), m["a_post"].alias("mean_a_post"),
        m["b_pre"].alias("mean_b_pre"), m["b_post"].alias("mean_b_post"),
        pre_diff.alias("pre_diff"), post_diff.alias("post_diff"),
        did.alias("did"))


def post_stratified_effect(df: DataFrame, stratum_col: str,
                           variant_col: str = "variant",
                           value_col: str = "vq", a_label: str = "a",
                           micro: int = 10_000) -> DataFrame:
    """Post-stratification estimator: the A/B effect re-weighted by
    stratum size, Σ_s w_s·(mean_a,s − mean_b,s), w_s = n_s / N over
    strata observed in BOTH variants (a one-sided stratum has no
    within-stratum contrast and is excluded from both the sum and N —
    documented convention).

    Two tiny aggregates (per-stratum cells → weighted sum). Exactness:
    ``value_col`` is an exact integer, so each stratum's mean diff is
    a fixed integer-ratio double; the diff is then micro-quantized
    (ROUND(diff·micro) — the q56 discipline) so the cross-stratum
    weighted sum Σ diff_q·n_s runs in exact BIGINTs and the final
    estimate is one exact-integer division. Returns 1 row:
    (n_strata, n_events, effect_q) with effect_q = Σ diff_q·n_s —
    callers divide by N·micro to read the effect in value units."""
    a = (F.col(variant_col) == a_label).cast("long")
    b = (F.col(variant_col) != a_label).cast("long")
    v = F.col(value_col)
    per_s = (df.groupBy(stratum_col)
             .agg(F.sum(a * v).alias("s_a"), F.sum(a).alias("n_a"),
                  F.sum(b * v).alias("s_b"), F.sum(b).alias("n_b")))
    both = per_s.filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    diff_q = F.round((F.col("s_a") / F.col("n_a")
                      - F.col("s_b") / F.col("n_b")) * micro).cast("long")
    return (both.select(diff_q.alias("dq"),
                        (F.col("n_a") + F.col("n_b")).alias("n_s"))
            .agg(F.count(F.lit(1)).alias("n_strata"),
                 F.sum("n_s").alias("n_events"),
                 F.sum(F.col("dq") * F.col("n_s")).alias("effect_q")))


def psi_drift(df: DataFrame, value_col: str, group_col: str,
              n_bins: int = 10, nano: int = 1_000_000_000) -> DataFrame:
    """Population Stability Index per group against the GLOBAL
    distribution — the standard industry drift monitor for numeric
    features (PSI < 0.1 stable / 0.1–0.25 shifting / > 0.25 shifted):
    PSI_g = Σ_bins (a_i − e_i)·ln(a_i/e_i), where e_i is the global
    (reference) share of equi-depth bin i and a_i is group g's share.

    Construction (all counts, one value-table window — the
    ``equidepth_histogram`` shape):

    1. (value, group) counts — one shuffle of the data;
    2. global equi-depth bins over the distinct-VALUE table
       (bucket = floor(cum_before·B/total), clamped — ties atomic);
    3. per-(group, bin) and per-bin reference counts, DENSE grid via
       groups × observed-bins crossJoin (a group's empty bin still
       contributes a term);
    4. add-half smoothing on BOTH shares — a_i = (c+0.5)/(n+0.5·B') —
       so empty cells stay finite (B' = bins actually realized, which
       can be < n_bins when distinct values are few);
    5. each term is micro-quantized (ROUND(term·nano) — the q56
       discipline) so the cross-bin sum runs in exact BIGINTs:
       identical count inputs → identical doubles → identical termq
       on any engine, partition-order invariant.

    Returns (group, n_g, n_bins_used, psi_nano) — PSI in 1e-9 units
    as an exact integer; callers divide by ``nano``.

    100 TB: the only non-key window runs over the distinct-value
    table (frontier-sized); everything downstream is domain-sized
    (groups × bins). NULL values are excluded.
    """

    # vcs feeds the global value table, the per-(group,bin) counts
    # and the group totals; bk feeds the reference bins and the bin
    # join — persist both (domain-sized) so the data is scanned once
    vcs = cache.persist(
        df.filter(F.col(value_col).isNotNull())
        .groupBy(value_col, group_col)
        .agg(F.count(F.lit(1)).alias("c")))
    tv = vcs.groupBy(value_col).agg(F.sum("c").alias("c_v"))
    wcum = (W.orderBy(value_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = W.partitionBy()
    cum_before = F.sum("c_v").over(wcum) - F.col("c_v")
    total = F.sum("c_v").over(wall)
    bucket = F.least(
        F.floor(cum_before * F.lit(int(n_bins)) / total),
        F.lit(int(n_bins) - 1)).cast("long")
    bk = cache.persist(
        tv.select(value_col, "c_v", bucket.alias("bucket")))
    gb = bk.groupBy("bucket").agg(F.sum("c_v").alias("c_b"))
    nb = gb.agg(F.count(F.lit(1)).alias("n_b"),
                F.sum("c_b").alias("n_tot"))
    sb = (vcs.join(bk.select(value_col, "bucket"), value_col)
          .groupBy(group_col, "bucket").agg(F.sum("c").alias("c_sb")))
    gr = vcs.groupBy(group_col).agg(F.sum("c").alias("n_g"))
    grid = (gr.crossJoin(F.broadcast(gb)).crossJoin(F.broadcast(nb))
            .join(sb, [group_col, "bucket"], "left"))
    a = ((F.coalesce(F.col("c_sb"), F.lit(0)) + 0.5)
         / (F.col("n_g") + 0.5 * F.col("n_b")))
    e = (F.col("c_b") + 0.5) / (F.col("n_tot") + 0.5 * F.col("n_b"))
    termq = F.round((a - e) * F.log(a / e) * F.lit(int(nano))).cast("long")
    return (grid.select(group_col, "n_g", "n_b", termq.alias("termq"))
            .groupBy(group_col, "n_g")
            .agg(F.count(F.lit(1)).alias("n_bins_used"),
                 F.sum("termq").alias("psi_nano")))
