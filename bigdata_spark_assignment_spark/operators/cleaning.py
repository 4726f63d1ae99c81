"""Cleaning / feature-engineering operators (SURVEY.md §2.2-2.3, M2).

Reusable, native-expression versions of the reference's cleaning UDFs
and loops. The reference implements these as row-at-a-time Scala UDFs
marked ``.asNondeterministic()`` (``Main.scala:13-38``) — which blocks
Catalyst pushdown through them — and applies them in per-column
``withColumn`` loops (quadratic plan growth). Here every op is a
``when``-chain Column expression applied in ONE ``withColumns`` pass,
so filters still push down and whole-stage codegen fuses the chain.

100 TB notes: all ops in this module are narrow (no shuffle) except
``prune_constant_columns`` / ``impute_*`` which each run exactly one
aggregation over the input (the reference runs 2 shuffle jobs PER
COLUMN for the prune, ``Main.scala:184-208``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .relational import distinct_count_expr

# Reference value lists (``Main.scala:13-25``): tokens normalized to
# "unknown" (U1) and the missing-data sentinel (U2). "Unknow" is the
# reference's sic spelling — reproduced on purpose.
UNKNOWN_TOKENS = ("Unknow", "None", "", " ")
NA_TOKEN = "NA"


def null_to_unknown_expr(col: Column) -> Column:
    """U1 (``Main.scala:13-18``): null / "Unknow" / "None" / "" / " "
    → "unknown", else identity."""
    return (
        F.when(col.isNull() | col.isin(*UNKNOWN_TOKENS), F.lit("unknown"))
        .otherwise(col)
    )


def na_to_null_expr(col: Column) -> Column:
    """U2 (``Main.scala:20-25``): literal "NA" → NULL, else identity."""
    return F.nullif(col, F.lit(NA_TOKEN))


def null_to_unknown(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    return df.withColumns({c: null_to_unknown_expr(F.col(c)) for c in cols})


def na_to_null(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Applies U2 to ``cols`` (default: all string columns).

    The reference's loop bound is miscomputed (``Main.scala:170`` —
    Scala ``Array.drop`` iterates a prefix of columns, not "all except
    ArrDelay"); we implement the documented intent (Report §4): NA→null
    on every requested column, in one pass.
    """
    if cols is None:
        cols = [f.name for f in df.schema.fields
                if f.dataType.simpleString() == "string"]
    return df.withColumns({c: na_to_null_expr(F.col(c)) for c in cols})


def bucketize_expr(col: Column, edges: Sequence[float],
                   labels: Sequence[str], default: str | None = "") -> Column:
    """General value bucketing: half-open intervals
    ``[edges[i], edges[i+1]) → labels[i]`` (the LAST interval is
    closed: ``[edges[-2], edges[-1]]``), anything else → ``default``.

    Pure ``when`` chain — pushdown- and codegen-friendly, and exactly
    expressible as a SQL CASE for the oracle.
    """
    if len(labels) != len(edges) - 1:
        raise ValueError("need len(labels) == len(edges) - 1")
    expr = None
    for i, label in enumerate(labels):
        lo, hi = edges[i], edges[i + 1]
        upper = (col <= hi) if i == len(labels) - 1 else (col < hi)
        cond = (col >= lo) & upper
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return expr.otherwise(F.lit(default))


# U3 (``Main.scala:27-38``): hhmm integer → 8 day-part buckets.
DAY_PART_EDGES = (0, 500, 800, 1200, 1400, 1700, 1900, 2100, 2400)
DAY_PART_LABELS = ("lateNight", "earlyMorning", "lateMorning",
                   "earlyAfternoon", "lateAfternoon", "earlyEvening",
                   "lateEvening", "earlyNight")


def day_part_expr(hhmm: Column) -> Column:
    """U3: the reference's canonical bucketing (out-of-range → "")."""
    return bucketize_expr(hhmm, DAY_PART_EDGES, DAY_PART_LABELS, default="")


def distinct_counts(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """One row with the distinct-value count (NULL counted as a value)
    of every requested column — the decision input for the constant
    prune, computed in a SINGLE aggregation pass.

    The reference pays 2 shuffle jobs per column here
    (``Main.scala:190-206``: ``groupBy(c).count().groupBy(c).count()
    .count()`` in a loop); this is one job total.
    """
    cols = list(cols or df.columns)
    return df.agg(*[distinct_count_expr(F.col(c)).alias(c) for c in cols])


def constant_expr(c: str) -> Column:
    """Aggregate expression: true iff column ``c`` has ≤1 distinct value,
    NULL counted as a value — it is all NULL, or has no NULL and
    ``min = max``. The decision of ``distinct_count_expr(c) <= 1``, but
    from plain aggregates: one map-side partial aggregate, where
    ``count_distinct`` plans two shuffles (and an Expand copying every
    row once per column when there are several). The equality is
    Spark's, so NaN = NaN and -0.0 = 0.0 as in ``count_distinct``.
    """
    n = F.count(F.col(c))
    return (n == 0) | ((n == F.count(F.lit(1)))
                       & (F.min(F.col(c)) == F.max(F.col(c))))


def prune_constant_columns(df: DataFrame, force_keep: Sequence[str] = ()) -> DataFrame:
    """P15 (``Main.scala:184-208``): drop every column with ≤1 distinct
    value (nulls counted as a value), except ``force_keep`` (the
    reference force-keeps ``Year``, ``Main.scala:192``). One
    ``constant_expr`` per column, all in one aggregation.
    """
    flags = df.agg(*[constant_expr(c).alias(f"c{i}")
                     for i, c in enumerate(df.columns)]).first()
    drop = [c for c, const in zip(df.columns, flags)
            if const and c not in force_keep]
    return df.drop(*drop) if drop else df


def means_frame(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """1-row frame of the column means, one ``__mean_<c>`` per column
    (NULL for a column with no non-null value) — the fitted statistic
    of ``impute_mean``."""
    return df.agg(*[F.avg(c).alias(f"__mean_{c}") for c in cols])


def impute_mean(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """A5/M2 (``Main.scala:273-275``): replace NULLs with the column
    mean. One aggregation job producing a 1-row frame, broadcast back —
    the scalar-subquery pattern, no driver round-trip in the plan.
    """
    out = df.crossJoin(F.broadcast(means_frame(df, cols)))
    out = out.withColumns(
        {c: F.coalesce(F.col(c), F.col(f"__mean_{c}")) for c in cols})
    return out.drop(*[f"__mean_{c}" for c in cols])


def modes_frame(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """1-row frame of the column modes as strings, one ``__mode_<c>``
    per column — the fitted statistic of ``impute_mode``.

    Single-pass: rows explode to (column, value) pairs → one grouped
    count → one window pick per column → one global aggregate collapses
    the per-column modes into one row. Values ride the pair frame as
    strings (Spark's casts round-trip for numeric/date/string types)
    but the tie-break orders by the NATIVE value (numeric columns by
    double, others lexically).
    """
    numeric = {f.name for f in df.schema.fields
               if f.dataType.typeName() in
               ("byte", "short", "integer", "long", "float", "double",
                "decimal")}
    pairs = df.select(F.explode(F.array(*[
        F.struct(
            F.lit(c).alias("col"),
            F.col(c).cast("string").alias("val"),
            (F.col(c).cast("double") if c in numeric
             else F.lit(None).cast("double")).alias("dkey"),
        ) for c in cols])).alias("p")) \
        .select("p.col", "p.val", "p.dkey") \
        .filter(F.col("val").isNotNull())
    counts = pairs.groupBy("col", "val").agg(
        F.count(F.lit(1)).alias("n"), F.first("dkey").alias("dkey"))
    w = W.partitionBy("col").orderBy(
        F.col("n").desc(),
        F.col("dkey").asc_nulls_last(),
        F.col("val").asc())
    top = counts.withColumn("rn", F.row_number().over(w)) \
        .filter(F.col("rn") == 1)
    # global aggregate → exactly ONE row even if every column was
    # all-null (ADVICE r1: an empty mode frame must not wipe the data)
    return top.agg(*[
        F.max(F.when(F.col("col") == c, F.col("val")))
        .cast("string").alias(f"__mode_{c}") for c in cols])


def impute_mode(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """A6/M1 (``Main.scala:262-267``): replace NULLs with each column's
    mode — the most frequent non-null value, ties broken by the smaller
    value (deterministic: the reference's Imputer breaks ties
    arbitrarily; the rule is pinned so an oracle can express it) — ALL
    columns in one aggregation pipeline (``modes_frame``) whose 1-row
    result is broadcast back. The r1 form looped one aggregation job +
    one crossJoin per column (the reference's own per-column-job smell,
    SURVEY.md §4.1).

    A column with zero non-null values yields a NULL mode and its NULLs
    are left in place — the 1-row global aggregate cannot annihilate
    the crossJoin the way an empty per-column mode frame could.
    """
    cols = list(cols)
    if not cols:
        return df
    out = df.crossJoin(F.broadcast(modes_frame(df, cols)))
    out = out.withColumns(
        {c: F.coalesce(
            F.col(c),
            F.col(f"__mode_{c}").cast(df.schema[c].dataType))
         for c in cols})
    return out.drop(*[f"__mode_{c}" for c in cols])


def derived_age_expr(anchor_year: Column, date_str: Column,
                     fmt: str = "M/d/y") -> Column:
    """The reference's PlaneAge pattern (``Main.scala:283-285``):
    ``anchor_year - year(to_date(date_str, fmt))`` clamped at 0.

    NULL propagates (unparseable/missing date → NULL age), matching the
    reference's ``when(col < 0, 0).otherwise(col)`` — NULL fails the
    ``< 0`` test and falls through unchanged. ``greatest(x, 0)`` would
    instead coerce NULL to 0.
    """
    raw = anchor_year - F.year(F.to_date(date_str, fmt))
    return F.when(raw < 0, F.lit(0)).otherwise(raw)


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict, seed: int = 42) -> DataFrame:
    """Stratified Bernoulli sampling (``sampleBy``) — the
    corpus-balancing op (e.g. downsample over-represented languages).
    Deterministic per seed but engine-specific (Spark's sampler), so
    driver checks are rows-only; tests assert per-stratum counts within
    binomial tolerance.

    100 TB notes: narrow (no shuffle) — each task flips seeded coins
    per row; exact stratum sizes need a follow-up count, not a pass of
    faith."""
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)


def hash_split_expr(key: Column, n_buckets: int = 100) -> Column:
    """Deterministic split bucket in [0, n_buckets): first 8 hex chars
    of md5(key) mod n_buckets. md5 (not xxhash64) so any engine —
    including the DuckDB oracle — reproduces the assignment bit-for-bit;
    the split survives reruns, engine swaps, and repartitioning, which
    is the property a train/val split must have."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10) \
            .cast("long") % n_buckets


def deterministic_split(df: DataFrame, key_col: str,
                        train_pct: int = 80,
                        split_col: str = "split") -> DataFrame:
    """Reproducible train/eval split: bucket = md5-hash of the KEY (not
    row position), so membership is stable under reordering, appends,
    and distributed execution — unlike ``randomSplit``, whose
    assignment depends on partitioning."""
    bucket = hash_split_expr(F.col(key_col))
    return df.withColumn(
        split_col, F.when(bucket < train_pct, "train").otherwise("eval"))


def mixture_sample(df: DataFrame, source_col: str, rates: dict[str, float],
                   key_col: str, default_rate: float = 1.0,
                   granularity: int = 10_000) -> DataFrame:
    """Deterministic data-mixture sampling — the 'mixing weights' op of
    a training-data pipeline: keep a per-SOURCE fraction of documents
    (e.g. upweight curated sources, downweight crawl) with membership
    decided by a salted md5 bucket of the KEY, not an RNG. Same
    engine-independence argument as ``hash_split_expr``: the sample is
    stable under reruns, repartitioning, appends, and engine swaps, so
    the oracle can recompute the EXACT member set (seeded ``sampleBy``
    cannot promise that). The salt ('mix:') decorrelates mixture
    membership from train/eval split buckets derived from the same key.

    100 TB notes: narrow per-row filter, no shuffle, no state; rates
    are compiled into one CASE chain (JVM codegen). Bucket granularity
    bounds rate resolution at 1/granularity.
    """
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("mix:"), F.col(key_col).cast("string"))),
        1, 8), 16, 10).cast("long") % granularity)
    thresh: Column | None = None
    for src, rate in rates.items():
        t = int(round(rate * granularity))
        thresh = (F.when(F.col(source_col) == src, t) if thresh is None
                  else thresh.when(F.col(source_col) == src, t))
    thresh = (thresh.otherwise(int(round(default_rate * granularity)))
              if thresh is not None
              else F.lit(int(round(default_rate * granularity))))
    return df.filter(bucket < thresh)


def weighted_sample_topk(df: DataFrame, weight: Column, k: int,
                         key_col: str = "doc_id",
                         salt: str = "ws") -> DataFrame:
    """Weighted sampling WITHOUT replacement (r5) via the
    Efraimidis–Spirakis A-ES reduction (IPL 2006, public): each row
    draws a deterministic uniform u from its salted md5 hash and ranks
    by ``ln(u) / weight`` — the global top-k under that key IS a
    weighted sample without replacement (heavier rows win
    proportionally more often). The corpus-curation primitive behind
    "sample N documents proportional to quality/length" mixtures.

    Determinism is the contract: u comes from the same md5-derived
    60-bit hash the mixture sampler and the q23 KMV sketch use, so the
    DuckDB oracle recomputes the EXACT member set — no tolerance
    bands, no seeds to reconcile (Spark's own seeded ``sample`` cannot
    promise cross-engine membership).

    Plan shape: one narrow expression per row (no shuffle), then
    ``orderBy().limit(k)`` = TakeOrderedAndProject — per-partition
    local top-k, no global sort. Ties broken on the key column.

    100 TB notes: identical cost to any top-k scan; the weight column
    is whatever expression the caller prunes to — nothing else is
    read. Weights must be >= some eps > 0 (guarded here) or the row
    never wins.
    """
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"),
                       F.col(key_col).cast("string"))), 1, 15),
        16, 10).cast("long")
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(1 << 60))
    skey = F.log(u) / F.greatest(weight.cast("double"), F.lit(1e-12))
    return (df.withColumn("__wskey", skey)
            .orderBy(F.col("__wskey").desc(), F.col(key_col))
            .limit(k)
            .drop("__wskey"))


def dsir_select(docs: DataFrame, text_col: str, target_pred: Column,
                k: int = 200, n_buckets: int = 1024,
                key_col: str = "doc_id",
                salt: str = "dsir") -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, *Data Selection
    for Language Models via Importance Resampling* — public method):
    score every document by how much more likely its hashed-unigram
    bag is under a TARGET domain (rows where ``target_pred`` holds)
    than under the RAW corpus, then draw k docs WITHOUT replacement
    with probability ∝ the importance weight via Gumbel top-k.
    Returns the selected rows + ``dsir_logw``.

    Construction (every step oracle-reproducible):
    * features: lowercased whitespace unigrams hashed to ``n_buckets``
      via the first 8 md5 hex chars (the q74 hashing-trick contract);
    * bucket LMs: add-1-smoothed unigram probabilities under target
      and raw token streams; log w(x) = Σ_tokens ln p_t(b)/p_r(b)
      (summed with multiplicity, as in the paper);
    * Gumbel key: g = −ln(−ln u) with the shared salted-md5 60-bit
      uniform (the A-ES/mixture convention), selection = top-k of
      ROUND(log w + g, 6) with ``key_col`` tie-break — the rounding
      makes the member set identical across engines (partial-sum ulp
      drift is ~1e-11 here, five orders below the step).

    Plan shape: one token explode + two bucket aggregates (n_buckets
    rows each — broadcast back), one per-doc aggregate, then
    TakeOrderedAndProject. At 100 TB: the bucket tables are O(B) no
    matter the corpus, the heavy pass is the single token explode the
    quality/LM scorers already pay, and no global sort exists.

    The bucket of a token depends on the TOKEN alone, so the md5 is
    paid once per DISTINCT token (a vocab-sized aggregate, broadcast
    back onto the occurrence stream) — r7: hashing every occurrence
    (twice: count pass + scoring pass) was most of this operator's
    wall time, and a web corpus has orders of magnitude more
    occurrences than vocabulary.
    """
    from .textual import WS_SPLIT

    toks = (docs.select(F.col(key_col).alias("__id"), target_pred.alias("__t"),
                        F.explode(F.split(F.lower(F.col(text_col)),
                                          WS_SPLIT)).alias("__tok"))
            .filter(F.col("__tok") != ""))
    bucket = F.pmod(F.conv(F.substring(F.md5("__tok"), 1, 8), 16, 10)
                    .cast("long"), F.lit(n_buckets))
    vocab = (toks.select("__tok").distinct()
             .select("__tok", bucket.alias("b")))
    # NO broadcast hint (ADVICE r7): the vocabulary is unbounded — a
    # web corpus has 1e8+ distinct tokens, which would OOM a forced
    # broadcast build side. AQE broadcasts it at runtime when the
    # measured size is small (every test/bench scale) and falls back
    # to a shuffle join on __tok when it is not.
    tb = (toks.join(vocab, "__tok")
          .select("__id", "__t", "b"))
    # ONE counting pass: per-bucket raw/target counts together (the
    # bucket table is O(n_buckets)); grand totals are a second tiny
    # aggregate over it, so the occurrence stream is scanned exactly
    # twice end-to-end — counts here, scoring below (r7: the previous
    # shape re-tokenized the corpus four times)
    from .dedup import _track_persist

    grouped = _track_persist(
        tb.groupBy("b").agg(
            F.count(F.lit(1)).alias("rc"),
            F.sum(F.col("__t").cast("long")).alias("tc")))
    ratios = (grouped
              .crossJoin(F.broadcast(
                  grouped.agg(F.sum("rc").alias("R"),
                              F.sum("tc").alias("T"))))
              .select("b", (F.log((F.col("tc") + F.lit(1.0))
                                  / (F.col("T") + F.lit(float(n_buckets))))
                            - F.log((F.col("rc") + F.lit(1.0))
                                    / (F.col("R")
                                       + F.lit(float(n_buckets)))))
                      .alias("lr")))
    logw = (tb.join(F.broadcast(ratios), "b")
            .groupBy("__id").agg(F.sum("lr").alias("dsir_logw")))
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"),
                       F.col(key_col).cast("string"))), 1, 15),
        16, 10).cast("long")
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float((1 << 60) + 2))
    gumbel = -F.log(-F.log(u))
    return (docs.join(logw, docs[key_col] == logw["__id"])
            .drop("__id")
            .withColumn("__gkey", F.round(F.col("dsir_logw") + gumbel, 6))
            .orderBy(F.col("__gkey").desc(), F.col(key_col))
            .limit(k)
            .drop("__gkey"))


def target_encode_loo(df: DataFrame, cat_col: str, target_col: str,
                      out_col: str = "te") -> DataFrame:
    """Leave-one-out target (mean) encoding of a categorical column —
    the ML featurization that replaces a category with the mean of
    the target over the OTHER rows of its group:

        te_i = (Σ_group y − y_i) / (n_group − 1)

    Excluding the row's own target is what prevents the direct
    target-leakage a plain group-mean encoding commits. Fallbacks,
    documented and tested: a singleton group (nothing to leave out)
    and an all-null-target group encode as the GLOBAL target mean
    (the prior); a row whose own target is NULL gets the plain group
    mean. NULL categories form their own group (SQL PARTITION BY
    semantics on both engines).

    Plan: group sum/count ride a frame-less window on the category
    (one shuffle), the global prior is a frame-less empty-partition
    window — all codegen, no joins, no fit/transform state. At
    100 TB this is one exchange on the category key; the global
    window sees one row per task's aggregate, not the data.
    """
    wg = W.partitionBy(cat_col)
    wall = W.partitionBy()
    y = F.col(target_col)
    s = F.sum(target_col).over(wg)
    n = F.count(target_col).over(wg)
    gmean = F.avg(target_col).over(wall)
    te = (F.when(y.isNotNull() & (n > 1), (s - y) / (n - 1))
          .when(y.isNull() & (n >= 1), s / n)
          .otherwise(gmean))
    return df.withColumn(out_col, te)


def target_encode_m(df: DataFrame, cat_col: str, target_col: str,
                    m: float = 10.0, out_col: str = "te") -> DataFrame:
    """m-estimate (additive-smoothing) target encoding — the
    shrinkage companion to ``target_encode_loo``: every category is
    pulled toward the global prior in proportion to how little
    evidence it carries,

        te_g = (Σ_g y + m·prior) / (n_g + m),   prior = global mean,

    so rare categories encode near the prior and frequent ones near
    their own mean — the standard high-cardinality-categorical
    treatment (Micci-Barreca 2001) where LOO's per-row exclusion is
    unnecessary (e.g. encoding fit on a train split, applied to
    eval). An all-null-target group degrades exactly to the prior
    ((0 + m·prior)/(0 + m)); NULL categories form their own group.

    Same plan shape as LOO: group sum/count on a frame-less category
    window (one exchange), the prior on a frame-less global window —
    all codegen, no joins, no fit state. The q16 oracle re-derives
    the formula end-to-end.
    """
    wg = W.partitionBy(cat_col)
    wall = W.partitionBy()
    s = F.coalesce(F.sum(target_col).over(wg), F.lit(0.0))
    n = F.count(target_col).over(wg)
    prior = F.avg(target_col).over(wall)
    te = (s + F.lit(float(m)) * prior) / (n + F.lit(float(m)))
    return df.withColumn(out_col, te)


def quantile_normalize(df: DataFrame, group_cols: list[str],
                       value_col: str,
                       out_col: str = "qn_value") -> DataFrame:
    """Quantile normalization / distribution alignment: map each
    group's values onto the GLOBAL value distribution by rank,
    so every group ends up with (a subsample of) the same marginal
    distribution. The cross-source score-calibration step a training
    pipeline needs before one threshold can filter documents scored
    by different sources/models (and the classic preprocessing move
    from the microarray literature).

    Step convention, all-integer arithmetic (no floats anywhere in
    the mapping, so the oracle is bit-trivially mirrorable):

        p-th value of group g  ↦  global value at position
        k = ⌈ cum_g · N / n_g ⌉      (1 ≤ k ≤ N)

    where cum_g = #{group rows ≤ v}, n_g = group size, N = total
    rows. The row's mapped value is the k-th smallest global value
    (duplicates kept — the global empirical quantile function as a
    step function).

    Plan: distinct-(group, value) table with per-group cumulative
    counts; global distinct-value boundary table with cumulative
    positions; the k-lookup is a MERGE of the two sorted streams —
    one window over (positions ∪ boundaries) ordered by position
    picking the first boundary value at-or-after each k
    (`first_value IGNORE NULLS` over the following frame) — then one
    join back onto the rows by (group, value). No inequality join,
    no per-row search: O(distinct) state through the skyline-rule
    single-partition window (the equidepth_histogram pattern). At
    100 TB pre-bucket values to a grid: the mapping is
    bucketing-exact for the bucketed process and every table above
    stays domain-sized.
    """
    d = df.filter(F.col(value_col).isNotNull())
    gv = (d.groupBy(*group_cols, value_col)
          .agg(F.count(F.lit(1)).alias("__c")))
    wg = (W.partitionBy(*group_cols).orderBy(value_col)
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    wgall = W.partitionBy(*group_cols)
    gv = gv.select(*group_cols, value_col,
                   F.sum("__c").over(wg).alias("__cum_g"),
                   F.sum("__c").over(wgall).alias("__n_g"))
    glob = (d.groupBy(value_col).agg(F.count(F.lit(1)).alias("__c"))
            .select(F.col(value_col).alias("__u"),
                    F.sum("__c").over(
                        W.orderBy(value_col)
                        .rowsBetween(W.unboundedPreceding,
                                     W.currentRow)).alias("__pos")))
    n_total = d.groupBy().agg(F.count(F.lit(1)).alias("__N"))
    # k = ceil(cum_g * N / n_g) via integral `div` — exact, no floats
    queries = (gv.crossJoin(F.broadcast(n_total))
               .withColumn("__num",
                           F.col("__cum_g") * F.col("__N") - 1)
               .select(*group_cols, value_col,
                       (F.expr("__num div __n_g") + 1)
                       .cast("long").alias("__k")))
    # merge: boundaries sort AFTER queries at equal position, so a
    # query at k picks the boundary with __pos >= k
    q_stream = queries.select(
        F.col("__k").alias("__pos"), F.lit(0).alias("__tag"),
        *[F.col(c) for c in group_cols], F.col(value_col),
        F.lit(None).cast(dict(d.dtypes)[value_col]).alias("__u"))
    b_stream = glob.select(
        "__pos", F.lit(1).alias("__tag"),
        *[F.lit(None).cast(t).alias(c)
          for c, t in d.select(*group_cols).dtypes],
        F.lit(None).cast(dict(d.dtypes)[value_col]).alias(value_col),
        "__u")
    # descending RUNNING frame, not [current, unboundedFollowing]:
    # Spark evaluates an unbounded-following frame by rescanning to
    # the partition end per row — O(n²), measured as a hang at 300k
    # rows — while the running frame streams O(n). Scanning pos
    # DESC, the most recent non-null boundary is exactly the
    # smallest boundary position ≥ k (boundaries sort before
    # queries at equal pos via tag DESC).
    wm = (W.orderBy(F.col("__pos").desc(), F.col("__tag").desc())
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    merged = (q_stream.unionByName(b_stream)
              .withColumn("__mapped",
                          F.last("__u", ignorenulls=True).over(wm))
              .filter(F.col("__tag") == 0)
              .select(*[F.col(c).alias(f"__g_{c}") for c in group_cols],
                      F.col(value_col).alias("__v"),
                      F.col("__mapped").alias(out_col)))
    # null-safe on the group keys: a NULL category is its own group
    # and must keep its rows through the map-back join
    cond = F.col(value_col) == F.col("__v")
    for c in group_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__g_{c}"))
    return (d.join(merged, cond)
            .drop("__v", *[f"__g_{c}" for c in group_cols]))
