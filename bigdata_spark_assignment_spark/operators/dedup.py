"""Deduplication operators — exact, fingerprint, MinHash-LSH, SimHash
(SURVEY.md §2.9 north star; no reference precedent).

Design for 100 TB from the start:

* Exact dedup = hash-partition on the dedup key (one shuffle), pick a
  canonical row per group with a ranking window. Never `distinct()` on
  wide rows — group on the key/hash, keep the smallest id.
* MinHash-LSH = per-row signatures (narrow), explode only (band_id,
  band_hash, doc_id) triples — NOT the shingle sets — so shuffle volume
  is O(docs × bands), independent of document length. Candidate pairs
  then re-join the shingle table by id for exact-Jaccard verification.
* SimHash = one 64-bit signature per row; candidates via 4×16-bit
  chunk equality (any pair within Hamming distance 3 shares ≥1 exact
  chunk by pigeonhole; we use distance ≤ 6 with verification, trading
  a little recall for zero tuning), verified with bit_count(xor).

Everything is native Spark expressions — xxhash64 / arrays / windows;
no Python in the hot path, no driver-side state.
"""

from __future__ import annotations

import contextlib
import functools
import time

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import exclude_infer_filters_from_generate
from .textual import shingles_expr

# Persisted intermediates (signature/index frames) are tracked per
# SCOPE (ADVICE r2: a module-global list let one caller's release drop
# another caller's caches, and direct operator calls grew it without
# bound). ``dedup_cache_scope()`` gives a caller its own scope whose
# caches are released on exit (pipelines.prepare_corpus runs its
# actions inside one); operators called OUTSIDE any scope fall back to
# a bounded FIFO — beyond ``_FALLBACK_CAP`` frames the oldest is
# unpersisted (safe: Spark recomputes on next use).
# r8: 8 was too tight — one q53 run legitimately holds ~12 live
# frames (docs fan-out, pair graph, per-algorithm edge/vertex
# frames), so the FIFO evicted the MinHash pair graph MID-QUERY and
# the evicted sweep recomputed (bench sample swing 8.9s → 17.4s).
# The frames are narrow per-query intermediates; 32 of them fit any
# executor profile we target, and bench.py additionally drains the
# pool between suite slots (unpersist_dedup_caches).
_FALLBACK_CAP = 32
_SCOPES: list[list[DataFrame]] = [[]]  # [0] = bounded global fallback


@contextlib.contextmanager
def dedup_cache_scope():
    """Scope dedup-operator persists to this block: every intermediate
    persisted inside is unpersisted on exit, touching nothing persisted
    by other callers."""
    scope: list[DataFrame] = []
    _SCOPES.append(scope)
    try:
        yield scope
    finally:
        _SCOPES.pop()
        for df in scope:
            df.unpersist()


def _track_persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    scope = _SCOPES[-1]
    scope.append(df)
    if len(_SCOPES) == 1 and len(scope) > _FALLBACK_CAP:
        scope.pop(0).unpersist()
    return df


def unpersist_dedup_caches() -> int:
    """Release every intermediate persisted OUTSIDE an explicit scope;
    returns the count. Safe while results are still referenced — Spark
    recomputes on next use."""
    fallback = _SCOPES[0]
    n = len(fallback)
    while fallback:
        fallback.pop().unpersist()
    return n


def dedup_exact(df: DataFrame, subset: list[str],
                canonical_order: list[Column] | None = None,
                copies_col: str | None = None) -> DataFrame:
    """Keep one canonical row per distinct ``subset`` value.

    Canonical = first row under ``canonical_order`` (default: the first
    subset column ascending — callers should pass a unique key for
    deterministic output). Optionally annotates the group size.
    """
    order = canonical_order or [F.col(subset[0]).asc()]
    w = W.partitionBy(*subset).orderBy(*order)
    out = df.withColumn("__rn", F.row_number().over(w))
    if copies_col:
        out = out.withColumn(copies_col,
                             F.count(F.lit(1)).over(W.partitionBy(*subset)))
    return out.filter(F.col("__rn") == 1).drop("__rn")


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------

def minhash_signature_expr(shingles: Column, num_hashes: int = 48) -> Column:
    """MinHash signature: element i = min over shingles of
    xxhash64(shingle, i). Index-salting one fast multi-arg hash
    replaces the classic (a·x+b mod p) family — same collision
    statistics, one expression, zero constants to ship. Empty shingle
    set → NULL mins (filtered out by callers)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(shingles, lambda s: F.xxhash64(s, i))),
    )


def _band_mins_pandas_udf(bands: int, rows: int, seed: int = 0):
    """Vectorized MinHash banding over PRE-HASHED shingles: input is
    ``array<bigint>`` (one xxhash64 per shingle, computed JVM-side in a
    single pass), output ``array<bigint>`` of ``bands`` band hashes.

    Family member i is the multiply-shift hash ``h·A[i] + B[i] (mod
    2⁶⁴)``; mins per row come from ONE ``minimum.reduceat`` over the
    batch-concatenated hash matrix — no per-row Python loop. Band hash
    = polynomial combine of the band's row-mins. Self-contained
    closure (constants captured as lists) so executors need no package
    import.
    """
    from pyspark.sql.functions import pandas_udf

    num = bands * rows
    rng = np.random.RandomState(seed)
    mult = (rng.randint(1, 2**62, size=num).astype(np.uint64) | 1).tolist()
    add = rng.randint(1, 2**62, size=num).astype(np.uint64).tolist()

    @pandas_udf("array<bigint>")
    def band_mins(hashes: pd.Series) -> pd.Series:
        import numpy as np
        A = np.asarray(mult, dtype=np.uint64)
        B = np.asarray(add, dtype=np.uint64)
        lens = hashes.map(len).to_numpy()
        if len(lens) == 0:
            return pd.Series([], dtype=object)
        flat = np.concatenate(hashes.to_numpy()).astype(np.uint64)
        H = flat[:, None] * A[None, :] + B[None, :]      # wraps mod 2^64
        offsets = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        mins = np.minimum.reduceat(H, offsets, axis=0)   # (n_rows, num)
        M = mins.reshape(len(lens), bands, rows)
        C = np.uint64(0x9E3779B97F4A7C15)
        bh = np.zeros((len(lens), bands), dtype=np.uint64)
        for r in range(rows):                            # rows is 2: tiny loop
            bh = bh * C + M[:, :, r]
        out = bh.astype(np.int64)
        return pd.Series(list(out))

    return band_mins


def jaccard_expr(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b)))


def neardup_pairs_minhash(docs: DataFrame, id_col: str, text_col: str,
                          threshold: float = 0.6, k_shingle: int = 3,
                          num_hashes: int = 48, bands: int = 24,
                          parallelism: int | None = None,
                          max_band_size: int | None = None) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold) via
    MinHash banding + exact verification.

    Recall: P(miss) = (1 − t^rows)^bands; at t=0.6, 24 bands × 2 rows →
    ~2e-5 per pair. Precision: exact (every candidate is re-verified on
    the true shingle sets).

    The signature stage is the CPU hot spot (num_hashes × shingles
    interpreted hash evals per row) and is narrow — a small input file
    would otherwise pin it to one task, so we repartition to
    ``parallelism`` (default: the cluster's default parallelism)
    before it.

    100 TB path: `exploded` shuffles only (band_hash, id) pairs; the
    candidate join is equi on band hash; the verify join re-reads the
    (id → shingles) table, so no shingle array ever rides the LSH
    shuffle. Skewed bands (e.g. boilerplate headers) would hot-spot a
    band hash — AQE skew-join handles moderate skew; for extreme skew
    pass ``max_band_size`` (the classic "stop-shingle" cap): buckets
    holding more than that many docs are DROPPED before the self-join,
    bounding candidate fan-out at O(bands · max_band_size) per bucket
    instead of O(bucket²). Safe for recall on genuine near-dups: a
    bucket is over-cap only when its band hash is shared corpus-wide
    (boilerplate-dominated min), and such pairs still meet in their
    body-derived bands (P(all matching bands boilerplate-hot) decays
    geometrically in bands — tests/test_dedup.py plants a shared
    header over every doc and checks both the fan-out bound and
    planted-pair recall). The cap list is computed with one count
    aggregate on the same (band, band_hash) keys and removed with a
    broadcast anti-join — over-cap buckets are few by definition, so
    the hot side never pays a window sort.
    """
    rows = num_hashes // bands
    exclude_infer_filters_from_generate(docs.sparkSession)
    n_parts = parallelism or docs.sparkSession.sparkContext.defaultParallelism
    shingled = (docs
                .select(F.col(id_col).alias("id"),
                        shingles_expr(F.col(text_col), k_shingle).alias("sh"))
                .filter(F.size("sh") > 0)
                .repartition(n_parts, "id"))
    # Signature hot path, split JVM/Python at the right seam: xxhash64
    # hashes each shingle ONCE (narrow, one HOF pass), then the
    # multiply-shift family + band mins run vectorized in numpy over
    # Arrow batches (~3× the all-expression formulation at sf0.1).
    band_mins = _band_mins_pandas_udf(bands, rows)
    sig = shingled.select(
        "id", "sh",
        band_mins(F.transform(F.col("sh"),
                              lambda s: F.xxhash64(s))).alias("bh"))
    # The signature frame feeds FOUR branches (both self-join sides +
    # both verify sides); without persist each branch re-runs
    # scan→shingle→hash→Python. MEMORY_AND_DISK ≈ shingle+sig size
    # (~4× text bytes) — the standard dedup-pipeline trade. LRU evicts
    # across repeated calls.
    sig = _track_persist(sig)

    exploded = sig.select(
        "id", F.posexplode("bh").alias("band", "band_hash"))
    if max_band_size is not None:
        hot = (exploded.groupBy("band", "band_hash")
               .agg(F.count(F.lit(1)).alias("__n"))
               .filter(F.col("__n") > max_band_size)
               .select("band", "band_hash"))
        exploded = exploded.join(F.broadcast(hot),
                                 ["band", "band_hash"], "left_anti")
    a, b = exploded.alias("a"), exploded.alias("b")
    candidates = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    sh_a = sig.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sig.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        candidates.join(sh_a, "id_a").join(sh_b, "id_b")
        .withColumn("jaccard", jaccard_expr(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def neardup_pairs_exact_jaccard(docs: DataFrame, id_col: str, text_col: str,
                                threshold: float = 0.6,
                                k_shingle: int = 3) -> DataFrame:
    """Brute-force n-gram Jaccard pairs via a shingle inverted index
    (explode → self-join on shingle → count common). The LSH oracle /
    recall baseline. O(pairs sharing any shingle) — fine at test scale,
    the thing LSH exists to avoid at 100 TB."""
    shingled = (docs
                .select(F.col(id_col).alias("id"),
                        shingles_expr(F.col(text_col), k_shingle).alias("sh"))
                .filter(F.size("sh") > 0))
    # persist: both self-join sides read the exploded index
    ex = _track_persist(
        shingled.select("id", F.size("sh").alias("sz"),
                        F.explode("sh").alias("shingle")))
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"),
             F.first("a.sz").alias("sa"), F.first("b.sz").alias("sb"))
        .withColumn("jaccard",
                    F.col("common") / (F.col("sa") + F.col("sb") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return pairs


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# bit weights for packing a 64-bit signature into a signed long:
# bit 63 is the sign bit, so it contributes -(2^63)
_BIT_WEIGHTS = [1 << i for i in range(63)] + [-(1 << 63)]


def simhash_expr(tokens: Column) -> Column:
    """64-bit SimHash of a token array: bit b is 1 iff the sum over
    tokens of ±1 (sign = bit b of xxhash64(token)) is positive.

    Expression-shape matters here (interpreted higher-order functions
    re-evaluate lambda bodies per element, and Catalyst inlines
    single-use aliases): the token hashes are materialized as the
    aggregate's INPUT array (each token hashed exactly once), the
    per-token vote update references only lambda variables (cheap), and
    the threshold+pack step runs in the aggregate's ``finish`` lambda —
    a let-binding that evaluates the 64-element vote array once, not
    once per packed bit.
    """
    return F.aggregate(
        F.transform(tokens, lambda t: F.xxhash64(t)),
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(63)),
            lambda a, b: a + F.getbit(h, b) * 2 - 1),
        lambda votes: functools.reduce(
            lambda packed, iw: packed + F.when(
                F.element_at(votes, iw[0] + 1) > 0,
                F.lit(iw[1]).cast("long")).otherwise(F.lit(0).cast("long")),
            enumerate(_BIT_WEIGHTS),
            F.lit(0).cast("long")),
    )


def _simhash_pandas_udf():
    """Vectorized SimHash over PRE-HASHED tokens: input ``array<bigint>``
    (one xxhash64 per token, computed JVM-side in a single narrow
    pass), output the packed 64-bit signature as a signed long —
    bit-identical to ``simhash_expr`` (pinned by
    tests/test_dedup.py::test_simhash_udf_matches_expression).

    The per-bit loop runs 64 numpy passes over the batch-concatenated
    token-hash vector (memory O(tokens), not O(tokens × 64)): ones =
    segmented count of bit b, bit set iff ones·2 > n_tokens — the same
    majority vote as the ±1 accumulator. Replaces the last interpreted
    higher-order-function hot path (VERDICT r2: per-token zip_with over
    a 64-element vote array, 3.1s at sf0.1). Self-contained closure so
    executors need no package import."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash_votes(hashes: pd.Series) -> pd.Series:
        import numpy as np
        arrs = hashes.to_numpy()
        lens = np.fromiter(
            (0 if a is None else len(a) for a in arrs),
            dtype=np.int64, count=len(arrs))
        out = np.zeros(len(arrs), dtype=np.uint64)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in arrs[nz]]
            ).view(np.uint64)
            nz_lens = lens[nz]
            offsets = np.zeros(len(nz_lens), dtype=np.int64)
            np.cumsum(nz_lens[:-1], out=offsets[1:])
            packed = np.zeros(len(nz_lens), dtype=np.uint64)
            one = np.uint64(1)
            for b in range(64):
                bit = ((flat >> np.uint64(b)) & one).astype(np.int64)
                ones = np.add.reduceat(bit, offsets)
                packed |= (ones * 2 > nz_lens).astype(np.uint64) \
                    << np.uint64(b)
            out[nz] = packed
        return pd.Series(out.view(np.int64))

    return simhash_votes


def neardup_pairs_hamming64(sigs: DataFrame, id_col: str, sig_col: str,
                            max_hamming: int = 6) -> DataFrame:
    """Generic near-dup pair join over ANY 64-bit signature column
    (SimHash text signatures, pHash image signatures, …): candidates
    by equality on any of the 4 16-bit chunks (pigeonhole-complete for
    Hamming ≤ 3, recall-vs-cost tradeoff above), exact verification
    with ``bit_count(a XOR b)``. Extracted r5 from the SimHash
    operator so the image pipeline reuses the identical plan:
    posexplode → chunk equi-join (shuffle on (chunk_id, value) only)
    → distinct → verify."""
    chunks = sigs.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("sim"),
        F.posexplode(F.array(*[
            F.shiftright(F.col(sig_col), c * 16).bitwiseAND(F.lit(0xFFFF))
            for c in range(4)
        ])).alias("chunk_id", "chunk_val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk_id") == F.col("b.chunk_id"))
               & (F.col("a.chunk_val") == F.col("b.chunk_val"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sim").alias("sim_a"), F.col("b.sim").alias("sim_b"))
        .distinct()
    )
    return (
        cand.withColumn("hamming",
                        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def neardup_pairs_simhash(docs: DataFrame, id_col: str, text_col: str,
                          max_hamming: int = 6,
                          parallelism: int | None = None) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ max_hamming.

    Candidates: equality on any of the 4 16-bit chunks (pigeonhole-
    complete for distance ≤ 3; a recall-vs-cost tradeoff above that),
    then exact verification with bit_count(a XOR b). Signatures are the
    narrow CPU hot spot, split at the same JVM/Python seam as MinHash
    (``_band_mins_pandas_udf``): xxhash64 per token once JVM-side, the
    64-bit majority vote vectorized in numpy over Arrow batches.
    """
    from .textual import words_expr
    exclude_infer_filters_from_generate(docs.sparkSession)
    n_parts = parallelism or docs.sparkSession.sparkContext.defaultParallelism
    simhash = _simhash_pandas_udf()
    # persist: the (id, sim) frame is tiny (two longs/row) and feeds
    # both self-join sides — without it the signature aggregate runs
    # twice
    sh = docs.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        simhash(F.transform(words_expr(F.col(text_col)),
                            lambda t: F.xxhash64(t))).alias("sim"))
    sh = _track_persist(sh)
    return neardup_pairs_hamming64(sh, "id", "sim",
                                   max_hamming=max_hamming)


def neardup_clusters(pairs: DataFrame, max_iter: int = 20,
                     checkpoint_dir: str | None = None,
                     round_stats: list | None = None) -> DataFrame:
    """Connected components over a near-dup pair graph → (id,
    cluster_id) with cluster_id = min id reachable through pairs.

    Iterative min-label propagation on DataFrames: each round every
    vertex takes the min of its own label and its neighbors' labels;
    convergence when no label changes (diameter-bounded, ≤ max_iter).
    A checkpoint cuts the lineage each round — without it the plan
    doubles per iteration and the driver dies on analysis cost long
    before the data does.

    Checkpoint durability (VERDICT r2 #3/#5): with ``checkpoint_dir``
    set, each round uses RELIABLE ``checkpoint()`` into that directory
    (HDFS/S3/shared FS on a cluster) — a lost executor replays from
    the checkpoint instead of killing a multi-hour job, the property a
    100 TB run needs. Default is ``localCheckpoint`` (executor-local
    blocks: fastest, fine single-node or where re-running the job is
    acceptable). The dir is set once per SparkContext and restored
    after, so callers' checkpoint config is untouched.

    100 TB notes: each round is one join + one aggregate on the edge
    list (shuffle on vertex id). For web-scale or chain-shaped graphs
    use ``neardup_clusters_star`` (large-star/small-star, same
    contract) — it contracts high-diameter chains in O(log²) rounds
    where plain propagation needs O(diameter); for near-dup graphs the
    diameter is tiny (duplicates form cliques-ish blobs), so plain
    propagation converges in a handful of rounds and the simpler
    per-round plan wins. Only vertices that appear in SOME pair are
    returned — singletons are the caller's identity mapping.
    """
    sc = pairs.sparkSession.sparkContext
    if checkpoint_dir is not None:
        old_dir = sc.getCheckpointDir()
        sc.setCheckpointDir(checkpoint_dir)

        def _cut(df: DataFrame) -> DataFrame:
            out = df.checkpoint(eager=True)
            return out
    else:
        # eager, not lazy (r12, VERDICT r11 #1): r11 shipped LAZY local
        # checkpoints (one job per round instead of two) and the
        # driver's scored run regressed q53 5.9→11.3s at local[32]
        # with 0.71 anti-scaling. The r12 A/B (fresh JVM per cell,
        # bench-shaped median-of-3, BOTH driver core counts) had eager
        # win every paired comparison — 32c lazy+persist 10.7s vs
        # eager+persist 7.05s; 8c 9.07 vs 8.41; the edge-list persist
        # (the scale-evidenced half of the r11 change) stays.
        def _cut(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst")))
             .distinct())
    # persist the (static) edge list across supersteps — the GraphX
    # discipline: without it every round's join re-runs the
    # union+distinct shuffle from the pair graph (r11; at cluster
    # scale that is one full edge shuffle per round saved).
    edges = _track_persist(edges)
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id")))
    labels = _cut(labels)

    changed = 0
    for _round in range(max_iter):
        _t0 = time.perf_counter()
        neighbor_min = (edges.join(labels,
                                   edges["dst"] == labels["id"])
                        .groupBy("src")
                        .agg(F.min("label").alias("nmin")))
        # carry the previous label through the checkpoint so the
        # convergence check is a filter+count on the checkpointed
        # frame — not an extra join per round
        new_labels = (labels.join(neighbor_min,
                                  labels["id"] == neighbor_min["src"],
                                  "left")
                      .select(labels["id"],
                              F.col("label").alias("__prev"),
                              F.least(F.col("label"),
                                      F.coalesce(F.col("nmin"),
                                                 F.col("label")))
                              .alias("label")))
        new_labels = _cut(new_labels)
        changed = new_labels.filter(
            F.col("label") != F.col("__prev")).count()
        labels = new_labels.select("id", "label")
        if round_stats is not None:
            # convergence-evidence hook (VERDICT r5 #9): rounds and
            # per-round wall time, so the 100x extrapolation is
            # arithmetic (rounds x per-round shuffle) not faith
            round_stats.append({"round": _round + 1, "changed": changed,
                                "seconds": round(time.perf_counter()
                                                 - _t0, 3)})
        if changed == 0:
            break
    if checkpoint_dir is not None and old_dir is not None:
        sc.setCheckpointDir(old_dir)
    if changed != 0:
        # ADVICE r1: silent non-convergence returned wrong cluster_ids
        # with no signal when the graph diameter exceeded max_iter.
        import warnings
        warnings.warn(
            f"neardup_clusters: {changed} labels still changing after "
            f"max_iter={max_iter} rounds — cluster_ids are NOT converged; "
            f"raise max_iter (graph diameter exceeds it)",
            RuntimeWarning, stacklevel=2)
    return labels.select("id", F.col("label").alias("cluster_id"))


def neardup_clusters_star(pairs: DataFrame, max_iter: int = 50,
                          checkpoint_dir: str | None = None,
                          round_stats: list | None = None) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., *Connected Components in MapReduce and Beyond*,
    SoCC'14) → (id, cluster_id) with cluster_id = min id in the
    component. Same contract as ``neardup_clusters``.

    Why a second algorithm: plain min-label propagation
    (``neardup_clusters``) needs O(diameter) rounds — fine for near-dup
    graphs (cliquish blobs, diameter ≤ a handful) but pathological on
    chain-shaped graphs (URL redirect chains, citation paths), where a
    length-10⁶ path needs 10⁶ rounds. Star contraction rewires every
    node toward its neighborhood minimum each round, converging in
    O(log² n) rounds REGARDLESS of diameter — this is the web-scale
    escape hatch; at 100 TB pick by expected graph shape.

    Each round is two (join + aggregate) passes over the edge list —
    the same shuffle shape as one propagation round, just twice per
    round, with the edge set shrinking monotonically toward one star
    per component. Convergence = the edge set's (count, hash-sum)
    signature is stable, one 1-row action per round. Lineage is cut
    per round: reliable ``checkpoint()`` when ``checkpoint_dir`` is
    given (cluster fault-tolerance), ``localCheckpoint`` otherwise.
    """
    sc = pairs.sparkSession.sparkContext
    old_dir = None
    if checkpoint_dir is not None:
        old_dir = sc.getCheckpointDir()
        sc.setCheckpointDir(checkpoint_dir)

        def _cut(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        # eager (r12) — same adjudication as neardup_clusters above:
        # the r11 lazy variant lost the driver-shaped A/B at both core
        # counts.
        def _cut(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    # Undirected edge set as (u, v) canonical pairs, self-loops dropped.
    edges = (pairs.select(F.col("id_a").alias("u"),
                          F.col("id_b").alias("v"))
             .filter(F.col("u") != F.col("v"))
             .select(F.greatest("u", "v").alias("u"),
                     F.least("u", "v").alias("v"))
             .distinct())
    edges = _cut(edges)
    prev_sig: tuple | None = None
    converged = False

    for _round in range(max_iter):
        _t0 = time.perf_counter()
        # Large-star: for each node x, m = min(N(x) ∪ {x}); connect
        # every STRICTLY LARGER neighbor to m. Keeps (big, small)
        # orientation: emitted edges are (nbr, m) with nbr > x ≥ m.
        sym = (edges.select("u", "v")
               .unionByName(edges.select(F.col("v").alias("u"),
                                         F.col("u").alias("v"))))
        mins = (sym.groupBy("u")
                .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        edges = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .distinct())
        # Small-star: edges are (u, v) with u > v; m = min(Γ⁻(u) ∪
        # {u}) = min smaller-neighbor; connect u and every smaller
        # neighbor except m itself to m.
        mins = edges.groupBy("u").agg(F.min("v").alias("m"))
        nbr_edges = (edges.join(mins, "u")
                     .filter(F.col("v") != F.col("m"))
                     .select(F.col("v").alias("u"), F.col("m").alias("v")))
        self_edges = mins.select("u", F.col("m").alias("v"))
        edges = _cut(nbr_edges.unionByName(self_edges).distinct())
        # xor-fold, not sum: order-independent and cannot overflow
        # under ANSI mode
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h")).first()
        sig = (sig["n"], sig["h"])
        if round_stats is not None:
            round_stats.append({"round": _round + 1, "edges": sig[0],
                                "seconds": round(time.perf_counter()
                                                 - _t0, 3)})
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig

    if checkpoint_dir is not None and old_dir is not None:
        sc.setCheckpointDir(old_dir)
    if not converged:
        import warnings
        warnings.warn(
            f"neardup_clusters_star: edge set still changing after "
            f"max_iter={max_iter} rounds — cluster_ids are NOT converged",
            RuntimeWarning, stacklevel=2)
    # Stable state is one star per component: (member, root) edges with
    # root = component min. Roots label themselves.
    return (edges.select(F.col("u").alias("id"),
                         F.col("v").alias("cluster_id"))
            .unionByName(edges.select(F.col("v").alias("id"),
                                      F.col("v").alias("cluster_id")))
            .groupBy("id").agg(F.min("cluster_id").alias("cluster_id")))


def decontaminate(train: DataFrame, test: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  k_shingle: int = 3, min_overlap: int = 1) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥
    ``min_overlap`` word-``k_shingle``-grams with ANY test doc — the
    n-gram overlap check every pre-training pipeline runs against its
    eval sets.

    Returns (train_id, n_test_shingle_hits, n_test_docs_hit), where
    ``n_test_shingle_hits`` counts DISTINCT shared shingles (ADVICE r2:
    a raw join-row count multiplied per test doc sharing the same
    shingle, contradicting the ">= min_overlap word-k-grams" contract).
    The train side is already distinct per doc (``shingles_expr`` is
    array_distinct), so the countDistinct collapses only the
    test-doc-multiplicity the join introduces.

    100 TB shape: the test side is tiny relative to training, so its
    exploded shingle set BROADCASTS — the training corpus streams once
    through a broadcast hash join, no training-side shuffle of shingle
    rows at all. (A huge test side would flip this to a shuffle join;
    Spark picks that automatically without the explicit broadcast.)
    """
    tr = (train.select(F.col(id_col).alias("train_id"),
                       shingles_expr(F.col(text_col), k_shingle).alias("sh"))
          .filter(F.size("sh") > 0)
          .select("train_id", F.explode("sh").alias("shingle")))
    te = (test.select(F.col(id_col).alias("test_id"),
                      shingles_expr(F.col(text_col), k_shingle).alias("sh"))
          .filter(F.size("sh") > 0)
          .select("test_id", F.explode("sh").alias("shingle"))
          .distinct())
    return (tr.join(F.broadcast(te), "shingle")
            .groupBy("train_id")
            .agg(F.countDistinct("shingle").alias("n_test_shingle_hits"),
                 F.countDistinct("test_id").alias("n_test_docs_hit"))
            .filter(F.col("n_test_shingle_hits") >= min_overlap))


def leakage_safe_split(docs: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id", train_pct: int = 80,
                       split_col: str = "split") -> DataFrame:
    """Train/eval split that CANNOT leak near-duplicates across the
    boundary: connected components over the near-dup ``pairs`` graph
    assign every doc a cluster id (singletons keep their own id), and
    the deterministic md5 split hashes the CLUSTER id — so an entire
    near-dup family lands on one side, always.

    This is the composition a training-data lake actually needs:
    ``randomSplit`` (and even per-doc hash splits) put near-identical
    docs in both train and eval, inflating eval scores.
    """
    from .cleaning import hash_split_expr

    labels = neardup_clusters(pairs)
    out = (docs.join(labels.withColumnRenamed("id", id_col), id_col, "left")
           .withColumn("cluster_id",
                       F.coalesce(F.col("cluster_id"), F.col(id_col))))
    bucket = hash_split_expr(F.col("cluster_id"))
    return out.withColumn(
        split_col, F.when(bucket < train_pct, "train").otherwise("eval"))


def shared_window_stats(docs: DataFrame, window_tokens: int = 10,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Exact substring-duplication detector — the distributed analogue
    of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): slide a
    ``window_tokens``-token window over every document and find
    windows whose exact text occurs in >= 2 DISTINCT documents. Where
    the paper builds a monolithic suffix array, the Spark-first shape
    is positional n-grams -> hash aggregate keyed by window text —
    fully relational, linear in tokens, no global index.

    Returns ONE row: n_shared_windows (distinct window texts shared
    across documents), n_docs_with_shared (documents containing at
    least one shared window — the set a substring-dedup pass would
    rewrite), n_shared_occurrences (total occurrences of shared
    windows, the rewrite volume).

    100 TB notes: windows are built PER DOCUMENT in an Arrow batch
    (``textual.window_hash_arrays_udf`` — zero shuffle, no doc_id
    Exchange) and only (window_hash, doc_id) int pairs ever move: the
    (hash, doc) pre-aggregate is one 16-byte-row shuffle, the gram
    rollup and the doc-membership semi-join reuse its persisted
    result. The relational path (``textual.positional_ngrams`` +
    group-by-gram-text) is the equivalence witness in tests — it pays
    a posexplode + window-``lead`` Exchange plus string-keyed
    shuffles, measured 71s vs ~9s per 500k docs / 30M tokens.
    Stop-phrase hot keys (boilerplate shared by millions of docs) are
    bounded: the (hash, doc) pre-aggregate collapses within-doc
    repeats map-side, and the gram group emits one row per window
    regardless of occurrence count.
    """
    from .textual import window_hash_arrays_udf

    uh = window_hash_arrays_udf(window_tokens)
    wins = docs.select(F.col(id_col).alias("__id"),
                       F.explode(uh(F.col(text_col))).alias("__gh"))
    per_doc = _track_persist(
        wins.groupBy("__gh", "__id").agg(F.count(F.lit(1)).alias("__occ")))
    shared = (per_doc.groupBy("__gh")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("__occ").alias("n_occ"))
              .filter(F.col("n_docs") >= 2))
    totals = shared.agg(
        F.count(F.lit(1)).alias("n_shared_windows"),
        F.coalesce(F.sum("n_occ"), F.lit(0)).alias("n_shared_occurrences"))
    docs_hit = (per_doc.join(shared.select("__gh"), "__gh", "leftsemi")
                .agg(F.countDistinct("__id").alias("n_docs_with_shared")))
    return totals.crossJoin(docs_hit).select(
        "n_shared_windows", "n_docs_with_shared", "n_shared_occurrences")


# ---------------------------------------------------------------------------
# Edit-distance fuzzy self-join (SymSpell / FastSS deletion-neighborhood
# blocking + exact Levenshtein verify)
# ---------------------------------------------------------------------------


def deletion_variants_expr(s: Column, max_dist: int) -> Column:
    """All distinct strings reachable from ``s`` by ≤ ``max_dist``
    single-character deletions (including ``s`` itself) — pure Column
    expressions (transform over sequence + substring), so the whole
    neighborhood generation stays inside whole-stage codegen.

    Completeness (the FastSS/SymSpell lemma): if lev(a, b) ≤ d, the
    characters COPIED by an optimal alignment form a common
    subsequence reachable from both sides by ≤ d deletions (each edit
    op consumes at most one character of each string), so
    Dels≤d(a) ∩ Dels≤d(b) ≠ ∅. The converse does not hold — sharing a
    variant only bounds lev by 2d — which is why callers must verify.
    """
    def del1(t: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.length(t)),
            lambda i: F.concat(
                F.substring(t, F.lit(1), i - 1),
                F.substring(t, i + 1, F.length(t))))

    levels = [F.array(s)]
    for _ in range(max_dist):
        levels.append(F.array_distinct(
            F.flatten(F.transform(levels[-1], del1))))
    return F.array_distinct(F.flatten(F.array(*levels)))


def fuzzy_join_edit_distance(df: DataFrame, id_col: str, str_col: str,
                             max_dist: int = 1) -> DataFrame:
    """All pairs within Levenshtein distance ``max_dist``
    → (id_a, id_b, dist), id_a < id_b — WITHOUT the O(n²) cross join.

    Plan shape: explode each row into its ≤d-deletion neighborhood,
    join on xxhash64(variant) (8-byte shuffle key; a hash collision
    only adds a candidate, the verify prunes it), distinct the
    candidate pairs, then exact ``levenshtein(sa, sb) ≤ d`` — Spark's
    built-in JVM implementation, identical unit-cost semantics to the
    DuckDB oracle's ``levenshtein``.

    100 TB notes: the neighborhood has C(len, ≤d) variants per row —
    the method targets SHORT keys (names, codes, titles ≤ ~50 chars;
    len+1 variants at d=1). The shuffle carries (hash, id, string)
    rows, strings ride along so candidates verify without a second
    join back to the corpus. For long strings use segment blocking
    (PassJoin) instead: d+1 fixed segments, substring probes. Equal
    strings share their whole neighborhood — dedup exact duplicates
    first (dedup_exact) or they dominate the candidate count.
    """
    ex = df.select(
        F.col(id_col).alias("id"), F.col(str_col).alias("s"),
        F.explode(deletion_variants_expr(F.col(str_col), max_dist))
         .alias("v")).select("id", "s", F.xxhash64("v").alias("vh"))
    a, b = ex.alias("a"), ex.alias("b")
    cand = (a.join(b, (F.col("a.vh") == F.col("b.vh"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.col("a.s").alias("sa"), F.col("b.s").alias("sb"))
            .distinct())
    return (cand
            .withColumn("dist", F.levenshtein("sa", "sb"))
            .filter(F.col("dist") <= max_dist)
            .select("id_a", "id_b", "dist"))


def pagerank(pairs: DataFrame, iters: int = 10, damping: float = 0.85,
             checkpoint_dir: str | None = None,
             broadcast_ranks: bool = False,
             cut_every: int = 3,
             weight_col: str | None = None) -> DataFrame:
    """PageRank centrality over the UNDIRECTED pair graph → (id, rank)
    after exactly ``iters`` synchronous power iterations — e.g. to
    pick the most-connected document of a near-dup component as its
    canonical representative (a centrality-based keep rule, vs q67's
    keep-min).

    Semantics (mirrored verbatim by the q53 oracle so ranks check
    cross-engine): symmetric-closure edges, deg = out-degree,
    rank₀ = 1/N, then
    ``rank(v) = (1−d)/N + d · Σ_{(u,v)∈E} rank(u)/deg(u)``.
    The symmetric closure guarantees deg ≥ 1 for every vertex that
    appears, so there is no dangling mass by construction (a directed
    variant must redistribute it; out of scope here). Fixed iteration
    count, not a convergence test: deterministic output, and the
    unrolled-CTE oracle needs a static depth.

    ``weight_col`` names an edge-weight column on ``pairs`` (e.g.
    trade volume, co-occurrence count): parallel edges sum their
    weights under the symmetric closure, out-strength replaces degree,
    and contributions become ``rank(u)·w(u,v)/outw(u)`` — globally
    scale-invariant (doubling every weight changes nothing; pinned in
    pytest). Unweighted keeps the integer-degree path untouched.

    100 TB notes: each round is one (edge ⋈ rank) shuffle on src plus
    one aggregate on dst — the degree-annotated edge list is built
    once and persisted; checkpoints every ``cut_every`` rounds cut the
    lineage exactly as in ``neardup_clusters`` (same reliable-dir
    option, same driver-death failure mode without it; the per-round
    plan here is shallow enough that every-3rd suffices). N rides as a
    broadcast 1-row aggregate (no driver-side action).

    ``broadcast_ranks=True`` hints BOTH per-round joins broadcast-side
    on the rank/contribution frames — correct plan when the vertex set
    is small relative to the corpus (a near-dup pair graph: only docs
    with duplicates appear), turning each round into scan + broadcast
    join + one tiny aggregate exchange, no edge shuffle. Leave False
    when vertices themselves are web-scale (full link graphs).
    """
    sc = pairs.sparkSession.sparkContext
    old_dir = None
    if checkpoint_dir is not None:
        old_dir = sc.getCheckpointDir()
        sc.setCheckpointDir(checkpoint_dir)

        def _cut(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        def _cut(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

    if weight_col is None:
        edges = (pairs.select(F.col("id_a").alias("src"),
                              F.col("id_b").alias("dst"))
                 .unionByName(pairs.select(F.col("id_b").alias("src"),
                                           F.col("id_a").alias("dst")))
                 .distinct())
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        edgesd = _track_persist(
            edges.join(deg, "src").select("src", "dst", "deg",
                                          F.lit(None).alias("w")))
        contrib_num = F.col("rank") / F.col("deg")
    else:
        edges = (pairs.select(F.col("id_a").alias("src"),
                              F.col("id_b").alias("dst"),
                              F.col(weight_col).cast("double").alias("w"))
                 .unionByName(pairs.select(
                     F.col("id_b").alias("src"),
                     F.col("id_a").alias("dst"),
                     F.col(weight_col).cast("double").alias("w")))
                 .groupBy("src", "dst").agg(F.sum("w").alias("w")))
        deg = edges.groupBy("src").agg(F.sum("w").alias("deg"))
        edgesd = _track_persist(
            edges.join(deg, "src").select("src", "dst", "deg", "w"))
        contrib_num = F.col("rank") * F.col("w") / F.col("deg")
    verts = _track_persist(
        edges.select(F.col("src").alias("id")).distinct())
    nstats = verts.agg(F.count(F.lit(1)).alias("n"))
    # (1-d) precomputed in Python and embedded as ONE double literal
    # on both engines (the oracle repr()s the same value) — a SQL-side
    # `1 - 0.85` could run in decimal arithmetic and diverge in the
    # last ulp
    teleport = F.lit(1.0 - damping)
    hint = F.broadcast if broadcast_ranks else (lambda df: df)
    ranks = (verts.crossJoin(F.broadcast(nstats))
             .select("id", (F.lit(1.0) / F.col("n")).alias("rank")))
    for it in range(iters):
        contrib = (edgesd.join(hint(ranks),
                               edgesd["src"] == ranks["id"])
                   .groupBy("dst")
                   .agg(F.sum(contrib_num).alias("c")))
        ranks = (verts.join(hint(contrib),
                            verts["id"] == contrib["dst"], "left")
                 .crossJoin(F.broadcast(nstats))
                 .select(verts["id"],
                         (teleport / F.col("n")
                          + F.lit(damping)
                          * F.coalesce(F.col("c"), F.lit(0.0)))
                         .alias("rank")))
        if (it + 1) % cut_every == 0 or it == iters - 1:
            ranks = _cut(ranks)
    if checkpoint_dir is not None and old_dir is not None:
        sc.setCheckpointDir(old_dir)
    return ranks


def pagerank_by_component(pairs: DataFrame, labels: DataFrame,
                          iters: int = 10,
                          damping: float = 0.85,
                          weight_col: str | None = None) -> DataFrame:
    """Same contract as ``pagerank`` (identical rank values — pytest
    pins the differential), exploiting that PageRank decomposes
    EXACTLY over connected components: contributions never cross
    components and the teleport term only needs the GLOBAL vertex
    count, which rides in as a broadcast 1-row aggregate.

    ``labels`` is the (id, cluster_id) output of ``neardup_clusters``
    over the same pairs — in a dedup pipeline it is already computed.
    Each component's edges group to one task that runs all ``iters``
    numpy iterations locally: ONE job, two shuffles (label join +
    groupBy component) — versus one barriered job PER ROUND for the
    iterative operator, whose ~10 sequential job latencies dominate
    when components are small.

    100 TB notes: right plan when components are bounded (near-dup
    graphs: dup-cluster-sized blobs). A giant component would skew one
    task — for full link graphs use ``pagerank``, whose per-round
    shuffles scale out. The Python seam is the intended one:
    per-group imperative iteration no Column expression can hold,
    over three long columns via Arrow.
    """
    if weight_col is None:
        edges = (pairs.select(F.col("id_a").alias("src"),
                              F.col("id_b").alias("dst"))
                 .unionByName(pairs.select(F.col("id_b").alias("src"),
                                           F.col("id_a").alias("dst")))
                 .distinct()
                 .withColumn("w", F.lit(1.0)))
    else:
        edges = (pairs.select(F.col("id_a").alias("src"),
                              F.col("id_b").alias("dst"),
                              F.col(weight_col).cast("double").alias("w"))
                 .unionByName(pairs.select(
                     F.col("id_b").alias("src"),
                     F.col("id_a").alias("dst"),
                     F.col(weight_col).cast("double").alias("w")))
                 .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    nstats = (edges.select("src").distinct()
              .agg(F.count(F.lit(1)).alias("n")))
    lab = labels.select(F.col("id").alias("src"), "cluster_id")
    e = edges.join(lab, "src").crossJoin(F.broadcast(nstats))

    def _run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        n = int(pdf["n"].iloc[0])
        tp = (1.0 - damping) / n
        src = pdf["src"].to_numpy()
        dst = pdf["dst"].to_numpy()
        w = pdf["w"].to_numpy()
        ids, src_idx = np.unique(src, return_inverse=True)
        # symmetric closure ⇒ every dst is also a src
        dst_idx = np.searchsorted(ids, dst)
        outw = np.bincount(src_idx, weights=w, minlength=len(ids))
        r = np.full(len(ids), 1.0 / n)
        for _ in range(iters):
            contrib = np.zeros(len(ids))
            np.add.at(contrib, dst_idx, r[src_idx] * w / outw[src_idx])
            r = tp + damping * contrib
        return pd.DataFrame({"id": ids, "rank": r})

    return (e.groupBy("cluster_id")
            .applyInPandas(_run, "id long, rank double"))


def neardup_pairs_prefix_jaccard(docs: DataFrame, id_col: str,
                                 text_col: str, threshold: float = 0.6,
                                 k_shingle: int = 3) -> DataFrame:
    """Exact-threshold Jaccard pairs via PREFIX FILTERING (Chaudhuri
    et al. ICDE 2006 / PPJoin's base filter) — same output contract as
    ``neardup_pairs_exact_jaccard`` (q33 pins them row-identical), but
    the inverted index holds only each doc's PREFIX under a global
    rarest-first shingle order.

    Prefix principle: if J(A,B) ≥ τ then |A∩B| ≥ ⌈τ·|A|⌉, so A cannot
    avoid its first |A| − ⌈τ·|A|⌉ + 1 shingles in the canonical order
    — any qualifying pair shares ≥1 PREFIX shingle. Ordering by
    ascending global frequency puts the RAREST shingles in prefixes,
    which is what collapses the candidate count (the head of a Zipf
    vocabulary never lands in a prefix unless a doc is mostly
    boilerplate).

    This is the deterministic alternative to MinHash-LSH: exact
    recall by construction (no banding probability), at the cost of a
    frequency pass. 100 TB notes: one extra global groupBy for the
    frequency table (broadcast if the shingle vocab fits, else an
    equi-join); per-doc prefix selection is one window on id; the
    candidate self-join shuffles only prefix postings —
    (1−τ)·|doc| + 1 of them per doc vs every shingle for the full
    index, a ~τ-fraction reduction before the exact verify. The
    verify joins candidate ids back to the persisted full shingle
    sets, exactly as the LSH path does.
    """
    sh = _track_persist(
        docs.select(F.col(id_col).alias("id"),
                    shingles_expr(F.col(text_col), k_shingle).alias("sh"))
        .filter(F.size("sh") > 0))
    ex = sh.select("id", F.size("sh").alias("sz"),
                   F.explode("sh").alias("shingle"))
    freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    plen = (F.col("sz")
            - F.ceil(F.lit(threshold) * F.col("sz")).cast("int") + 1)
    w = W.partitionBy("id").orderBy(F.col("df").asc(),
                                    F.col("shingle").asc())
    prefix = (ex.join(freq, "shingle")
              .withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= plen)
              .select("id", "shingle"))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"))
            .distinct())
    sa = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        jaccard_expr(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over the undirected pair graph
    → (id, n_triangles) for every vertex in the graph (0 for
    triangle-free vertices) — the building block of local clustering
    coefficients and the classic "how clique-ish is this near-dup
    blob" diagnostic.

    Plan shape (the standard distributed formulation): orient every
    edge low→high (id_a < id_b after normalization), enumerate each
    triangle EXACTLY ONCE as u<v<w with edges (u,v),(v,w),(u,w) via
    two equi-joins — wedge generation joins on the middle vertex, the
    closing join on the (u,w) pair — then explode each found triangle
    to its three corners and count per vertex. Shuffle volume is
    O(edges + wedges); at web scale, degree-order orientation (join
    low-degree side first) bounds wedge counts, and near-dup graphs
    are small-component by construction.
    """
    e = (pairs.select(F.least("id_a", "id_b").alias("u"),
                      F.greatest("id_a", "id_b").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct())
    w1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    w2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    wedges = w1.join(w2, "b")                       # a < b < c
    closing = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tris = wedges.join(closing, ["a", "c"])
    corner = (tris.select(F.explode(F.array("a", "b", "c"))
                  .alias("id"))
              .groupBy("id")
              .agg(F.count(F.lit(1)).alias("n_triangles")))
    verts = (e.select(F.col("u").alias("id"))
             .unionByName(e.select(F.col("v").alias("id"))).distinct())
    return (verts.join(corner, "id", "left")
            .select("id", F.coalesce(F.col("n_triangles"), F.lit(0))
                    .cast("long").alias("n_triangles")))


def bfs_hops_by_component(pairs: DataFrame, labels: DataFrame,
                          max_hops: int = 20) -> DataFrame:
    """Hop distance (unweighted shortest path) of every vertex from its
    component's canonical seed — the graph-traversal family alongside
    CC/PageRank/triangles. The seed is the component's min id, which is
    exactly ``cluster_id`` in the ``neardup_clusters`` labels, so a
    dedup pipeline gets provenance ("how far is this doc from the
    cluster canonical") with no extra seed table.

    Grouped one-job form (same rationale as ``pagerank_by_component``):
    symmetric-closure edges join the broadcastable label frame, each
    component's edges land in one task, and the whole BFS frontier
    iteration runs locally in numpy/dict — two shuffles total versus
    one distributed join PER LEVEL for ``bfs_hops``. Right plan while
    components are dup-cluster-sized; for giant components use the
    iterative operator (pinned equal in tests/test_dedup.py).

    Returns (id, hops), hops ≤ ``max_hops`` (deeper vertices omitted —
    mirrored by the oracle's recursion bound).
    """
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst")))
             .distinct())
    lab = labels.select(F.col("id").alias("src"), "cluster_id")
    e = edges.join(lab, "src")

    def _run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        seed = int(pdf["cluster_id"].iloc[0])
        adj: dict[int, list[int]] = {}
        for s, d in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
            adj.setdefault(int(s), []).append(int(d))
        hops = {seed: 0}
        frontier = [seed]
        depth = 0
        while frontier and depth < max_hops:
            depth += 1
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in hops:
                        hops[v] = depth
                        nxt.append(v)
            frontier = nxt
        return pd.DataFrame({"id": sorted(hops),
                             "hops": [hops[i] for i in sorted(hops)]})

    return (e.groupBy("cluster_id")
            .applyInPandas(_run, "id long, hops long"))


def bfs_hops(pairs: DataFrame, seeds: DataFrame,
             max_hops: int = 20, cut_every: int = 3) -> DataFrame:
    """Distributed frontier-expansion BFS from an arbitrary seed set:
    per level, join the frontier to the edge table, anti-join out
    visited vertices, accumulate (id, hops). One shuffle join per
    level — the scale-out path when a component (or the seed set's
    reach) is too big for one task; ``bfs_hops_by_component`` is the
    one-job fast path for bounded components.

    ``seeds`` is a 1-column (id) frame. Early-stops on an empty
    frontier (one cheap isEmpty action per level — unavoidable for
    data-dependent termination); lineage is cut with localCheckpoint
    every ``cut_every`` levels, the same discipline as
    ``neardup_clusters``' label iteration.
    """
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst")))
             .distinct())
    edges = _track_persist(edges)
    visited = seeds.select(F.col("id").cast("long")) \
                   .withColumn("hops", F.lit(0).cast("long"))
    visited = visited.localCheckpoint(eager=True)
    frontier = visited.select("id")
    for depth in range(1, max_hops + 1):
        nxt = (edges.join(frontier.withColumnRenamed("id", "src"), "src")
               .select(F.col("dst").alias("id")).distinct()
               .join(visited.select("id"), "id", "left_anti")
               .withColumn("hops", F.lit(depth).cast("long")))
        if depth % cut_every == 0:
            nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        if depth % cut_every == 0:
            visited = visited.localCheckpoint(eager=True)
        frontier = nxt.select("id")
    return visited


def sssp_by_component(pairs: DataFrame, labels: DataFrame,
                      weight_col: str = "weight",
                      max_rounds: int = 20) -> DataFrame:
    """Weighted single-source shortest paths from each component's
    canonical (min-id) vertex — the min-plus companion to
    ``bfs_hops_by_component`` when edges carry costs (here: near-dup
    distance, 1 − similarity). Semantics contract shared by BOTH
    engine forms and the q53 oracle: the minimum total weight over
    paths of at most ``max_rounds`` edges (hop-bounded Bellman-Ford —
    with positive weights and rounds ≥ component diameter this IS the
    shortest path, and the bound is what makes the oracle's recursive
    enumeration finite).

    Grouped one-job form (the ``pagerank_by_component`` rationale):
    weighted symmetric edges join the broadcastable label frame, each
    component relaxes locally in a dict — two shuffles total. Integer
    weights keep every distance exact across engines.

    Returns (id, dist) for vertices reachable within the bound.
    """
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"),
                          F.col(weight_col).alias("w"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst"),
                                       F.col(weight_col).alias("w")))
             .groupBy("src", "dst").agg(F.min("w").alias("w")))
    lab = labels.select(F.col("id").alias("src"), "cluster_id")
    e = edges.join(lab, "src")

    def _run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        seed = int(pdf["cluster_id"].iloc[0])
        es = list(zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy(),
                      pdf["w"].to_numpy()))
        dist: dict[int, int] = {seed: 0}
        for _ in range(max_rounds):
            # SYNCHRONOUS relaxation: read the previous round's
            # snapshot, write a fresh dict — in-place updates would
            # let a lucky edge order cascade several hops in one
            # round, breaking the ≤ max_rounds-edge contract the
            # distributed form and the oracle recursion both honor
            # (and making the result depend on edge order).
            nxt = dict(dist)
            for s, d, w in es:
                s, d, w = int(s), int(d), int(w)
                if s in dist and dist[s] + w < nxt.get(d, 1 << 62):
                    nxt[d] = dist[s] + w
            if nxt == dist:
                break
            dist = nxt
        return pd.DataFrame({"id": sorted(dist),
                             "dist": [dist[i] for i in sorted(dist)]})

    return (e.groupBy("cluster_id")
            .applyInPandas(_run, "id long, dist long"))


def sssp(pairs: DataFrame, seeds: DataFrame,
         weight_col: str = "weight", max_rounds: int = 20,
         cut_every: int = 3) -> DataFrame:
    """Distributed hop-bounded Bellman-Ford from an arbitrary seed
    set: per round, relax every edge out of the current distance
    frame (one join), fold candidates into the running minimum (one
    grouped min), early-stop when a round improves nothing. The
    scale-out path for giant components; ``sssp_by_component`` is the
    one-job fast path — pinned equal in tests/test_dedup.py.

    Same semantics contract: min weight over ≤ ``max_rounds``-edge
    paths. Lineage is cut with localCheckpoint every ``cut_every``
    rounds (the ``neardup_clusters`` discipline); the per-round
    isEmpty improvement probe is the unavoidable action for
    data-dependent termination.
    """
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"),
                          F.col(weight_col).alias("w"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst"),
                                       F.col(weight_col).alias("w")))
             .groupBy("src", "dst").agg(F.min("w").alias("w")))
    edges = _track_persist(edges)
    dist = (seeds.select(F.col("id").cast("long"))
            .withColumn("dist", F.lit(0).cast("long"))
            .localCheckpoint(eager=True))
    for rnd in range(1, max_rounds + 1):
        cand = (edges.join(dist.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"),
                        (F.col("dist") + F.col("w")).alias("dist")))
        folded = (dist.unionByName(cand)
                  .groupBy("id").agg(F.min("dist").alias("dist")))
        if rnd % cut_every == 0:
            folded = folded.localCheckpoint(eager=True)
        improved = (folded.alias("n")
                    .join(dist.alias("o"), "id", "left")
                    .filter(F.col("o.dist").isNull()
                            | (F.col("n.dist") < F.col("o.dist"))))
        if improved.isEmpty():
            break
        dist = folded
    return dist


def kcore_by_component(pairs: DataFrame, labels: DataFrame,
                       k_max: int = 3) -> DataFrame:
    """Bounded k-core decomposition of the near-dup pair graph —
    coreness(v) = the largest k ≤ ``k_max`` such that v survives
    iterated deletion of vertices with within-subgraph degree < k.
    The density diagnostic alongside the clustering coefficient:
    coreness 1 vertices are tree/chain appendages (the shape of
    chained false-positive near-dup paths), coreness ≥ 2 vertices sit
    on cycles, coreness 3 in dense quasi-clique blobs (true duplicate
    groups). Capping at ``k_max`` keeps the peel depth — and the
    oracle's unrolled-round SQL mirror — fixed and scale-independent.

    Grouped one-job form (the ``pagerank_by_component`` rationale):
    symmetric-closure edges join the broadcastable label frame, each
    component's edges land in one task, and the peel loop runs
    locally over a dict adjacency — two shuffles total versus two
    anti-joins PER ROUND for the distributed ``kcore_membership``
    (pinned equal in tests/test_dedup.py; that operator is the
    giant-component path).

    Returns (id, coreness) for every vertex of the pair graph
    (isolated vertices never appear — the pair graph has no
    degree-0 vertices).
    """
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst")))
             .distinct())
    lab = labels.select(F.col("id").alias("src"), "cluster_id")
    e = edges.join(lab, "src")

    def _run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        adj: dict[int, set[int]] = {}
        for s, d in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
            adj.setdefault(int(s), set()).add(int(d))
        coreness = {v: 1 for v in adj}
        alive = set(adj)
        for k in range(2, k_max + 1):
            while True:
                drop = [v for v in alive
                        if len(adj[v] & alive) < k]
                if not drop:
                    break
                alive -= set(drop)
            if not alive:
                break
            for v in alive:
                coreness[v] = k
        ids = sorted(coreness)
        return pd.DataFrame({"id": ids,
                             "coreness": [coreness[i] for i in ids]})

    return (e.groupBy("cluster_id")
            .applyInPandas(_run, "id long, coreness long")
            .select("id", "coreness"))


def kcore_membership(pairs: DataFrame, k: int, max_rounds: int = 8,
                     cut_every: int = 3,
                     round_stats: list | None = None) -> DataFrame:
    """Distributed k-core: iteratively delete vertices whose degree
    within the surviving subgraph is < ``k`` until a fixpoint —
    per round one grouped degree count and one semi-join edge
    restriction. The scale-out path for graphs whose components
    exceed one task; ``kcore_by_component`` is the one-job fast path.

    Peeling is monotone (the survivor set only shrinks), so a
    converged round is idempotent — which is what lets the q53 oracle
    mirror this with a FIXED unroll of ``max_rounds`` rounds.
    Raises if the peel has not converged within ``max_rounds``
    (loudly, rather than silently disagreeing with the bounded-round
    oracle); the near-dup graph's chain components peel in
    O(chain length / 2) rounds and its blob components in one.

    Returns the 1-column (id) frame of k-core vertices.
    """
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst")))
             .distinct())
    edges = _track_persist(edges)
    for rnd in range(1, max_rounds + 1):
        keep = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("__d"))
                .filter(F.col("__d") >= k).select("src"))
        nxt = (edges.join(keep, "src", "left_semi")
               .join(keep.withColumnRenamed("src", "dst"), "dst",
                     "left_semi"))
        if rnd % cut_every == 0:
            nxt = nxt.localCheckpoint(eager=True)
        dropped = edges.join(nxt, ["src", "dst"], "left_anti")
        converged = dropped.isEmpty()
        if round_stats is not None:
            round_stats.append({"round": rnd, "converged": converged})
        if converged:
            return edges.select(F.col("src").alias("id")).distinct()
        edges = nxt
    # loop exhausted with the last peel unconfirmed: the state is a
    # fixpoint iff every surviving vertex already has degree >= k
    under = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("__d"))
             .filter(F.col("__d") < k))
    if not under.isEmpty():
        raise RuntimeError(
            f"k-core peel (k={k}) did not converge in "
            f"{max_rounds} rounds")
    return edges.select(F.col("src").alias("id")).distinct()


def dbscan_from_pairs(pairs: DataFrame, component_labels: DataFrame,
                      min_pts: int = 3) -> dict:
    """DBSCAN (Ester et al. 1996) given the ε-neighbor PAIR table —
    the density-based clustering step a semantic-dedup/curation
    pipeline runs after candidate generation: dense regions become
    clusters, sparse points become noise instead of being glued into
    chains the way plain connected components glues them.

    Inputs: ``pairs`` (id_a < id_b, already thresholded at ε) and
    ``component_labels`` (id, cluster_id) — the pair-graph CC labels,
    used ONLY as a grouping key: every core-core edge lies inside one
    pair-graph component, so the core sub-CC runs as per-component
    numpy union-find under ``applyInPandas`` (the grouped graph form
    this module uses for pagerank/bfs; fall back to the iterative
    ``neardup_clusters`` on core-core edges if a component outgrows
    an executor).

    Definitions (deterministic, oracle-mirrorable):

    * core: |N_ε(p)| ≥ min_pts counting p itself — deg(p)+1 ≥ min_pts;
    * cluster: connected component of the core-core subgraph, labeled
      by its min core id (isolated cores = singleton clusters);
    * border: non-core with ≥ 1 core neighbor, assigned to the MIN
      cluster label among its core neighbors (DBSCAN leaves border
      assignment implementation-defined; min is the deterministic
      choice);
    * noise: everything else.

    Returns dict: ``core`` (id, cl), ``border`` (id, cl) — noise is
    the complement, counted by the caller against the corpus total.

    100 TB: degree and border are key-partitioned aggregates over the
    pair stream; the only non-relational step is the per-component
    union-find, bounded by component size exactly like the other
    grouped graph ops."""
    import pandas as pd

    adj = (pairs.select(F.col("id_a").alias("id"),
                        F.col("id_b").alias("nbr"))
           .unionByName(pairs.select(F.col("id_b").alias("id"),
                                     F.col("id_a").alias("nbr"))))
    deg = adj.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    core = _track_persist(
        deg.filter(F.col("deg") + 1 >= min_pts).select("id"))

    ce = (pairs.join(core.select(F.col("id").alias("id_a")), "id_a")
          .join(core.select(F.col("id").alias("id_b")), "id_b")
          .join(component_labels.select(F.col("id").alias("id_a"),
                                        F.col("cluster_id").alias("grp")),
                "id_a")
          .select("grp", "id_a", "id_b"))

    def _uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf["id_a"], pdf["id_b"]):
            a, b = int(a), int(b)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(x, find(x)) for x in parent]
        return pd.DataFrame(rows, columns=["id", "cl"])

    core_cc = (ce.groupBy("grp")
               .applyInPandas(_uf, "id long, cl long"))
    isolated = (core.join(core_cc, "id", "left_anti")
                .select("id", F.col("id").alias("cl")))
    ccore = _track_persist(core_cc.unionByName(isolated))
    border = (adj.join(ccore.select(F.col("id").alias("nbr"), "cl"),
                       "nbr")
              .join(core, "id", "left_anti")
              .groupBy("id").agg(F.min("cl").alias("cl")))
    return {"core": ccore, "border": _track_persist(border)}


def label_propagation(pairs: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007), the
    community-detection complement to connected components over the
    near-dup pair graph: where CC glues everything reachable, LPA
    settles each vertex on the label held by the PLURALITY of its
    neighbors — chains split at their weak points, blobs keep one
    label. The classic cheap community detector for "this component
    is really two templates bridged by one boilerplate doc".

    Deterministic contract (the cross-engine differential needs one):
    synchronous updates (all vertices step together from the previous
    round's labels — asynchronous LPA is visit-order-dependent and
    unverifiable), labels initialized to vertex id, a FIXED number of
    rounds, and ties broken toward the MIN label. Fixed rounds also
    sidestep synchronous LPA's classic bipartite oscillation: the
    round count is part of the semantics, not a convergence knob.

    Per round: one equi-join of the symmetric edge list against the
    label table + one (id, label) count aggregate + one argmax — the
    argmax as ``max(struct(count, -label))``, a partial-aggregable
    expression (map-side combine) instead of a row_number window
    (which would sort every group). 100 TB: ``rounds`` barriered
    shuffles of the edge list, the same shape as one pagerank
    iteration; for dup-blob-sized components prefer
    :func:`lpa_by_component` (one job), pinned equal in pytest.
    """
    adj = (pairs.select(F.col("id_a").alias("id"),
                        F.col("id_b").alias("nbr"))
           .unionByName(pairs.select(F.col("id_b").alias("id"),
                                     F.col("id_a").alias("nbr")))
           .distinct())
    adj = _track_persist(adj)
    labels = adj.select("id").distinct().withColumn("label", F.col("id"))
    for _ in range(rounds):
        nbr_lab = adj.join(
            labels.select(F.col("id").alias("nbr"), "label"), "nbr")
        counts = (nbr_lab.groupBy("id", "label")
                  .agg(F.count(F.lit(1)).alias("c")))
        labels = (counts.groupBy("id")
                  .agg(F.max(F.struct(
                      F.col("c").alias("c"),
                      (-F.col("label")).alias("nl"))).alias("m"))
                  .select("id", (-F.col("m.nl")).alias("label")))
    return labels


def lpa_by_component(pairs: DataFrame, component_labels: DataFrame,
                     rounds: int = 4) -> DataFrame:
    """Same contract as :func:`label_propagation` (pytest pins the
    differential row-identical), exploiting that labels never cross
    connected components: group the edge list by the CC label (already
    computed in any dedup pipeline) and run all ``rounds`` synchronous
    updates per component in numpy under ``applyInPandas`` — ONE job,
    two shuffles, vs ``rounds`` barriered jobs for the iterative form.
    Right plan when components are dup-blob-sized; a giant component
    skews one task — use the iterative operator there.
    """
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst")))
             .distinct())
    lab = component_labels.select(F.col("id").alias("src"), "cluster_id")
    e = edges.join(lab, "src")

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf["src"].to_numpy()
        dst = pdf["dst"].to_numpy()
        ids, src_idx = np.unique(src, return_inverse=True)
        # symmetric closure => every dst is also a src
        dst_idx = np.searchsorted(ids, dst)
        n = len(ids)
        lab_idx = np.arange(n)
        for _ in range(rounds):
            # per (receiver, neighbor label) counts; argmax with
            # count DESC, label ASC via lexsort (ids sorted => label
            # index order == label id order)
            key = dst_idx.astype(np.int64) * n + lab_idx[src_idx]
            uk, cnt = np.unique(key, return_counts=True)
            rcv, lbl = uk // n, uk % n
            order = np.lexsort((lbl, -cnt, rcv))
            first = np.unique(rcv[order], return_index=True)[1]
            nxt = lab_idx.copy()
            nxt[rcv[order][first]] = lbl[order][first]
            lab_idx = nxt
        return pd.DataFrame({"id": ids, "label": ids[lab_idx]})

    return (e.groupBy("cluster_id")
            .applyInPandas(_run, "id long, label long"))


def modularity_nano(pairs: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a vertex partition over the undirected
    pair graph, nano-quantized: Q = Σ_c (m_c/m − (D_c/2m)²) with m
    the undirected edge count, m_c community c's internal edges, D_c
    its degree mass — the one-number answer to "did label propagation
    find real structure or noise" (Q ≈ 0 ⇒ no better than random,
    Q ≳ 0.3 ⇒ strong communities).

    Cross-engine exactness (the psi_nano discipline): every
    per-community term is a few arithmetic ops on exact BIGINTs,
    rounded to an integer at 1e-9 — so the community SUM runs in
    exact integers and no partition order can move the readout.

    Plan: degree = one aggregate over the symmetric edge list; m_c =
    the (u < v) edge list joined to labels twice, filtered equal, one
    count; D_c = labels ⋈ degree, one sum — three key-bounded
    aggregates and a label-domain-sized final combine. Returns one
    row (n_communities, m_edges, q_nano).
    """
    lh = (pairs.select(F.least("id_a", "id_b").alias("u"),
                       F.greatest("id_a", "id_b").alias("v"))
          .filter(F.col("u") != F.col("v")).distinct())
    deg = (pairs.select(F.col("id_a").alias("id"),
                        F.col("id_b").alias("nbr"))
           .unionByName(pairs.select(F.col("id_b").alias("id"),
                                     F.col("id_a").alias("nbr")))
           .distinct()
           .groupBy("id").agg(F.count(F.lit(1)).alias("deg")))
    la = labels.select(F.col("id").alias("u"), F.col("label").alias("cu"))
    lb = labels.select(F.col("id").alias("v"), F.col("label").alias("cv"))
    mc = (lh.join(la, "u").join(lb, "v")
          .filter(F.col("cu") == F.col("cv"))
          .groupBy(F.col("cu").alias("c"))
          .agg(F.count(F.lit(1)).alias("m_c")))
    dc = (labels.join(deg, "id")
          .groupBy(F.col("label").alias("c"))
          .agg(F.sum("deg").alias("d_c")))
    m_row = lh.agg(F.count(F.lit(1)).alias("m"))
    terms = (dc.join(mc, "c", "left")
             .crossJoin(F.broadcast(m_row))
             .select(F.round(
                 (F.coalesce(F.col("m_c"), F.lit(0))
                  .cast("double") / F.col("m")
                  - F.pow(F.col("d_c").cast("double")
                          / (2.0 * F.col("m")), 2)) * 1e9)
                 .cast("long").alias("term_nano")))
    return (terms.agg(F.count(F.lit(1)).alias("n_communities"),
                      F.sum("term_nano").alias("q_nano"))
            .crossJoin(F.broadcast(m_row))
            .select("n_communities", F.col("m").alias("m_edges"),
                    "q_nano"))
