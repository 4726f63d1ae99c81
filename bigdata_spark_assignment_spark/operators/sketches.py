"""Frequent-item (heavy-hitter) mining (SURVEY.md §2.9 sketches).

The naive plan for "which items occur ≥ T times" is
``groupBy(item).count().filter(...)`` — correct, but at 100 TB it
shuffles the FULL key domain (billions of distinct tokens for a web
corpus) to count items of which only a handful survive the threshold.

``heavy_hitters`` instead runs the classic two-pass scheme:

1. **Candidate pass** — a per-partition Misra-Gries summary with
   capacity ``k`` (mergeable-summaries batch variant: on overflow,
   subtract the (k+1)-th largest count from every counter and drop the
   non-positive ones). Bounded memory per task, NO shuffle of the raw
   key domain; each partition emits ≤ k candidate items.
   Guarantee: an item with global count > n/(k+1) must exceed the
   local decrement budget in at least one partition (otherwise its
   global count ≤ Σ_p n_p/(k+1) = n/(k+1)), so the union of partition
   summaries is a SUPERSET of every item with count ≥ threshold
   whenever ``threshold > n/(k+1)``.
2. **Verify pass** — exact counts of the (small) candidate set via a
   broadcast semi-join + partial aggregation, then the threshold
   filter. Output is EXACT, not approximate: the sketch only prunes.

If the guarantee precondition fails (``threshold ≤ n/(k+1)`` — the
caller picked too small a capacity for this n), the operator falls
back to the exact full groupBy so correctness never degrades; it
warns, because at real scale that fallback is the expensive plan.

Python boundary: pass 1 is a ``mapInPandas`` over the single item
column (Arrow batches, numpy ``value_counts`` per batch, dict merge
across the partition's batches). This is the intended use of the
Python seam — per-partition imperative state no Column expression can
hold — and it touches one string column, not whole rows.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache


def _mg_partition_factory(col: str, capacity: int):
    """Build the mapInPandas function: stream the partition's Arrow
    batches through one Misra-Gries dict, emit surviving items plus a
    NULL-item sentinel row carrying the partition's row count."""

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[Any, int] = {}
        total = 0
        for pdf in batches:
            vc = pdf[col].value_counts()
            total += int(vc.sum())
            for item, c in vc.items():
                counts[item] = counts.get(item, 0) + int(c)
            if len(counts) > capacity:
                # batch decrement: subtract the (capacity+1)-th largest
                # count, drop non-positive — every decrement of one
                # survivor is matched on ≥ capacity others, so total
                # undercount per item ≤ n_partition/(capacity+1)
                cut = sorted(counts.values(), reverse=True)[capacity]
                counts = {i: c - cut for i, c in counts.items() if c > cut}
        # nullable Int64, NOT a plain list: mixing int64 keys with the
        # None sentinel would coerce to float64 and corrupt hashes
        # beyond 2^53
        yield pd.DataFrame(
            {col: pd.array(list(counts.keys()) + [None], dtype="Int64"),
             "cnt": list(counts.values()) + [total]})

    return mg


def heavy_hitters(df: DataFrame, item_col: str, threshold: int,
                  capacity: int = 8192) -> DataFrame:
    """Items of ``df[item_col]`` occurring ≥ ``threshold`` times, with
    EXACT counts → columns (``item_col``, cnt), via the two-pass
    Misra-Gries candidate/verify scheme documented in the module
    docstring.

    ``capacity`` bounds per-task memory in pass 1 and must satisfy
    ``threshold > n/(capacity+1)`` for the sketch guarantee; the
    operator checks this against the measured n and falls back to the
    exact full aggregation (with a warning) when violated.

    100 TB notes: pass 1 scans once with zero shuffle and emits
    ≤ capacity rows/partition; pass 2 scans once more with the
    candidate set BROADCAST (left-semi), so the only shuffle ever is
    the partial-aggregated candidate counts — O(candidates), not
    O(distinct items). Two scans beat one full-domain shuffle as soon
    as the domain is large; for a small known domain use the plain
    groupBy instead.
    """
    # NULL items are ignored (value_counts drops NaN in pass 1, and a
    # NULL never matches the semi-join in pass 2) — drop them up front
    # so the fallback path agrees
    items = df.select(F.col(item_col).alias("item")) \
        .filter(F.col("item").isNotNull())
    # Pass 1 sketches xxhash64(item), not the item itself: the Arrow
    # hop moves fixed 8-byte ints instead of strings/structs and the
    # pandas hash table runs on int64 — several times faster for text
    # tokens. Two items colliding into one hash only MERGE their
    # counts, i.e. a hash's count ≥ each member's true count, so the
    # candidate set stays a superset and the exact verify pass is
    # unaffected (a false candidate just fails the threshold there).
    hashed = items.select(F.xxhash64("item").alias("h"))
    # persisted so the n-check action and the candidates branch share
    # one pass-1 scan; query-scoped (released when the next registered
    # query starts)
    summary = cache.persist(hashed.mapInPandas(
        _mg_partition_factory("h", capacity), schema="h long, cnt long"))
    n = summary.filter(F.col("h").isNull()) \
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n")).first()["n"]
    if threshold * (capacity + 1) <= n:
        warnings.warn(
            f"heavy_hitters: capacity={capacity} too small for "
            f"n={n} at threshold={threshold} "
            f"(needs > {n // threshold}); falling back to exact "
            f"full aggregation", RuntimeWarning, stacklevel=2)
        counted = items
    else:
        candidates = (summary.filter(F.col("h").isNotNull())
                      .select("h").distinct())
        counted = (items.withColumn("h", F.xxhash64("item"))
                   .join(F.broadcast(candidates), "h", "left_semi"))
    return (counted.groupBy("item")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= threshold)
            .withColumnRenamed("item", item_col))


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — mergeable set-expression
# estimation (Bar-Yossef et al. 2002; Beyer et al. SIGMOD 2007's
# unaggregated-data form). Unlike HLL++, a KMV synopsis supports
# INTERSECTION estimates: J = |sketch(A∪B) ∩ A ∩ B| / k estimates the
# Jaccard similarity, and |A∩B| ≈ J · |A∪B|-estimate.
# ---------------------------------------------------------------------------


def md5_hash60_expr(col) -> "F.Column":
    """60-bit uniform hash from md5 — chosen over xxhash64 because the
    DuckDB oracle can compute the IDENTICAL value
    (``('0x' || substr(md5(x), 1, 15))::BIGINT``), making every KMV
    estimate exactly cross-engine-checkable with no pinned literals."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15),
                  16, 10).cast("long")


def kmv_sketch(df: DataFrame, key_col: str, k: int = 256) -> DataFrame:
    """The k smallest distinct key hashes — a fixed-size synopsis of an
    arbitrarily large key set.

    Plan shape: column-pruned scan → hash → distinct (one shuffle on
    the hash) → ``orderBy().limit(k)`` = TakeOrderedAndProject (each
    partition keeps its local k; no full sort). At 100 TB add the
    classic threshold prefilter (``h < k/n_est · 2^60``) before the
    distinct so the shuffle only ever carries near-minimal hashes."""
    return (df.select(md5_hash60_expr(F.col(key_col)).alias("h"))
            .distinct().orderBy("h").limit(k))


def kmv_intersection_estimate(a: DataFrame, b: DataFrame, key_col: str,
                              k: int = 256) -> DataFrame:
    """1-row frame: KMV estimates of |A∪B| (``est_union``), the shared
    count among the union sketch's k minima (``j``), and the derived
    |A∩B| estimate (``est_intersection``).

    Mergeability is the 100 TB point: per-partition (or per-day)
    sketches union and re-truncate to k rows — the union sketch of the
    union set — so set-overlap questions across arbitrarily many
    partitions never rescan data. When the true union is smaller than
    k the sketch IS the set and every estimate degrades to exact
    (the CASE branch, mirrored verbatim in the q23 oracle)."""
    ska, skb = kmv_sketch(a, key_col, k), kmv_sketch(b, key_col, k)
    unionk = (ska.unionByName(skb).distinct()
              .orderBy("h").limit(k))
    shared = (unionk.join(ska, "h", "left_semi")
              .join(skb, "h", "left_semi"))
    stats = (unionk.agg(F.count(F.lit(1)).alias("uk"),
                        F.max("h").alias("kth"))
             .crossJoin(shared.agg(F.count(F.lit(1)).alias("j"))))
    # operand order mirrors the oracle SQL exactly so the float results
    # are bit-identical: ((k-1)·2^60) is one exact double literal
    est_union = F.when(F.col("uk") < k, F.col("uk").cast("double")) \
        .otherwise(F.lit(float((k - 1) * (1 << 60))) / F.col("kth"))
    return stats.select(
        F.col("uk"), F.col("kth"), F.col("j"),
        est_union.alias("est_union"),
        F.round(F.col("j") * est_union / F.col("uk"), 0)
         .cast("long").alias("est_intersection"))


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) —
# fixed-size frequency synopsis. Complements Misra-Gries above: MG
# answers "which items are frequent" (ids only, exact after verify);
# CMS answers point frequency queries for ARBITRARY items from a
# d×w counter grid, with one-sided error (estimate ≥ true count,
# over by ≤ εn with probability 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉).
# Counters are mergeable by cellwise addition, so per-partition /
# per-day sketches combine without rescanning — the 100 TB property.
# ---------------------------------------------------------------------------


def cms_bucket_expr(col, seed: int, width: int) -> "F.Column":
    """Row ``seed``'s bucket for an item, read as a 40-bit LANE of one
    shared md5 digest (hex chars [10·seed+1, 10·seed+10]) so the
    whole depth-row family costs ONE hash per item instead of one per
    row — r7: hashing was the dominant cost of the sketch builds, and
    md5's 128 bits carry 3 independent 40-bit lanes with room to
    spare. The DuckDB oracle recomputes every counter AND estimate
    bit-exactly:
    ``('0x' || substr(md5(item), 1 + 10·seed, 10))::BIGINT % w``.

    NOTE: expressions for the same item share the digest subtree, so
    Spark's subexpression elimination computes md5 once per row when
    the lanes are projected together (cms_build's posexplode array).
    """
    if not 0 <= seed <= 2:
        raise ValueError("md5 carries 3 disjoint 40-bit lanes "
                         f"(seed 0-2); got seed={seed}")
    lane = F.substring(F.md5(col.cast("string")), 1 + 10 * seed, 10)
    return F.conv(lane, 16, 10).cast("long") % width


def cms_build(df: DataFrame, item_col: str,
              depth: int = 3, width: int = 512) -> DataFrame:
    """Build the d×w counter grid → rows (d, bucket, c); absent cells
    are zero (the estimate side COALESCEs).

    Plan shape: one scan → posexplode into ``depth`` (row, bucket)
    pairs → hash aggregate. Partial (map-side) aggregation collapses
    each task's contribution to ≤ d·w rows before the shuffle, so the
    exchange carries O(d·w) rows per task regardless of input size —
    the whole point of a sketch build. NULL items are skipped (md5 of
    NULL is NULL; posexplode keeps the row but the groupBy key is
    NULL-bucketed and filtered here) to match the MG operator's
    NULL handling."""
    buckets = F.array(*[cms_bucket_expr(F.col(item_col), i, width)
                        for i in range(depth)])
    return (df.filter(F.col(item_col).isNotNull())
            .select(F.posexplode(buckets).alias("d", "bucket"))
            .groupBy("d", "bucket")
            .agg(F.count(F.lit(1)).alias("c")))


def cms_point_estimates(counters: DataFrame, items: DataFrame,
                        item_col: str, depth: int = 3,
                        width: int = 512) -> DataFrame:
    """Point-frequency estimate per ``items`` row: min over the d
    counters the item hashes to → (item_col, cms_est).

    The counter grid is ≤ d·w rows — broadcast it, so arbitrarily many
    query items never shuffle; a never-seen item's cells are absent
    and COALESCE to 0 (CMS estimates unseen items exactly when their
    cells are collision-free)."""
    buckets = F.array(*[cms_bucket_expr(F.col(item_col), i, width)
                        for i in range(depth)])
    q = items.select(F.col(item_col),
                     F.posexplode(buckets).alias("d", "bucket"))
    return (q.join(F.broadcast(counters), ["d", "bucket"], "left")
            .groupBy(item_col)
            .agg(F.min(F.coalesce(F.col("c"), F.lit(0)))
                 .alias("cms_est")))


def cms_join_size_estimate(grid_a: DataFrame,
                           grid_b: DataFrame) -> DataFrame:
    """1-row estimate of the equi-join size |A ⋈ B| = Σ_k fA(k)·fB(k)
    from two count-min grids built with the SAME (depth, width,
    seeds): min over rows d of the bucketwise inner product
    Σ_b A[d,b]·B[d,b] (Cormode & Muthukrishnan §4.2 — the AMS-style
    F2/join-size use of CMS). One-sided like the point query: hash
    collisions only ADD cross terms, so the estimate ≥ the true size,
    within εn_A·n_B/w with the usual probability.

    The 100 TB use: join-size forecasting for plan decisions (salting,
    broadcast thresholds) from two d×w synopses — no scan of either
    side at decision time, and the grids themselves merge cellwise
    across partitions/days. Both inputs are tiny (≤ d·w rows); the
    whole computation is one broadcast join over counter cells.

    A depth row with NO overlapping buckets has inner product 0 —
    which proves the key sets are disjoint (a shared key populates
    both grids at EVERY depth), so the estimate is exactly 0; the
    depth spine below encodes that instead of taking the min over only the
    rows the inner join kept."""
    depth = grid_a.select("d").distinct()
    a = grid_a.select("d", "bucket", F.col("c").alias("ca"))
    b = grid_b.select("d", "bucket", F.col("c").alias("cb"))
    ips = (a.join(F.broadcast(b), ["d", "bucket"])
           .groupBy("d")
           .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip")))
    return (depth.join(ips, "d", "left")
            .agg(F.min(F.coalesce(F.col("ip"), F.lit(0)))
                 .alias("join_size_est")))


def ams_f2_sum_sq(df: DataFrame, key_col: str,
                  group_cols: list[str], k: int = 16) -> DataFrame:
    """AMS second-moment (F₂ = Σ c_t²) tug-of-war sketch (Alon,
    Matias, Szegedy 1996) — the join-size/self-join-size and skew
    estimator CMS cannot give: each estimator S_j = Σ_rows ±1 with a
    hash-derived sign per KEY, and E[S_j²] = F₂.

    Every sign for a row derives from ONE md5 (the shared 60-bit
    idiom): sign_j = bit j of h, so the whole sketch is one hash + k
    integer shift/mask expressions per row — pure codegen, no Python,
    and (md5 being the oracle-reproducible hash) DuckDB re-derives
    every estimator EXACTLY: the driver hash checks the estimate
    itself, not an error band. (Textbook AMS wants 4-wise independent
    sign families; distinct md5 bits are an engineering stand-in with
    the same empirical behavior — the error-bound pytest measures it.)

    Returns one row per group: (group_cols…, ams_sum_sq) where
    ams_sum_sq = Σ_j S_j² — the caller divides by k for the mean
    estimate; kept as the exact integer SUM so no engine ever
    divides. 100 TB: k sums ride ONE combine-enabled aggregate — the
    sketch never materializes per-key counts, which is the point
    (exact F₂ needs the two-level distinct aggregate).
    """
    h = md5_hash60_expr(F.concat(F.lit("ams:"),
                                 F.col(key_col).cast("string")))
    df = df.withColumn("__h", h)
    sums = [F.sum(((F.shiftright(F.col("__h"), j)
                    .bitwiseAND(F.lit(1))) * 2 - 1).cast("long"))
            .alias(f"__s{j}") for j in range(k)]
    g = df.groupBy(*group_cols).agg(*sums)
    total = None
    for j in range(k):
        sq = F.col(f"__s{j}") * F.col(f"__s{j}")
        total = sq if total is None else total + sq
    return g.select(*group_cols, total.alias("ams_sum_sq"))
