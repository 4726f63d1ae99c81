"""Grouped regression operators that need per-group iterative fits —
the ``applyInPandas`` grouped-ML pattern (each group ships through
Arrow to one task; thousands of fits run embarrassingly parallel).

Currently: isotonic regression (pool-adjacent-violators), the
monotone calibration step (Zadrozny/Elkan-style probability
calibration, dose-response curves) that no SQL window can express —
PAV's pooling is data-dependently iterative. The FIT it converges to
still has a closed-form SQL characterization (the minimax formula,
Barlow et al. 1972: fit[k] = min over j>=k of max over i<=k of
mean(y[i..j])), which the q62 ``iso`` driver leg uses as an EXACT
oracle; the operator is additionally pytest-verified against an
independent pure-Python PAV (tests/test_regression.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cache

__all__ = ["isotonic_fit", "grouped_ols", "theil_sen_slope",
           "mann_kendall"]

_ISO_SCHEMA = T.StructType([
    T.StructField("group", T.StringType()),
    T.StructField("x", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
    T.StructField("y_iso", T.DoubleType()),
])


def _pav(y, w):
    """Weighted pool-adjacent-violators on a sequence already sorted
    by x: returns the non-decreasing fit minimizing Σw(y−ŷ)².
    Stack-based linear-time merge."""
    blocks: list[list[float]] = []  # [mean, weight]
    counts: list[int] = []
    for yi, wi in zip(y, w):
        blocks.append([float(yi), float(wi)])
        counts.append(1)
        while len(blocks) > 1 and blocks[-2][0] >= blocks[-1][0]:
            m2, w2 = blocks.pop()
            c2 = counts.pop()
            m1, w1 = blocks[-1]
            blocks[-1] = [(m1 * w1 + m2 * w2) / (w1 + w2), w1 + w2]
            counts[-1] += c2
    out: list[float] = []
    for (m, _), c in zip(blocks, counts):
        out.extend([m] * c)
    return out


def isotonic_fit(df: DataFrame, key_col: str, x_col: str,
                 y_col: str) -> DataFrame:
    """Per-key isotonic regression: fit the best non-decreasing step
    function ŷ(x) (least squares) and return (group, x, y, y_iso) for
    every input row.

    Tie handling matches the standard formulation: rows sharing an x
    are pre-pooled to their mean (weight = count) before PAV, so the
    fit is a FUNCTION of x and row order within ties cannot matter —
    which also makes the operator deterministic under Spark's
    unordered group delivery. NULL x/y rows are dropped.

    Plan: one shuffle on the key; each group sorts locally by x and
    runs the linear-time stack PAV — the grouped-ML shape (a giant
    single group serializes into one task; split such keys upstream
    or fall back to a global isotonic via the q10-style ordered
    sweep... which SQL cannot express either — documented bound).
    """
    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.dropna(subset=["x", "y"]).sort_values("x")
        pooled = (pdf.groupby("x", sort=True)["y"]
                  .agg(["mean", "count"]).reset_index())
        fit = _pav(pooled["mean"].tolist(), pooled["count"].tolist())
        lut = dict(zip(pooled["x"], fit))
        return pd.DataFrame({
            "group": pdf["group"],
            "x": pdf["x"],
            "y": pdf["y"],
            "y_iso": [lut[x] for x in pdf["x"]],
        })

    flat = df.select(F.col(key_col).cast("string").alias("group"),
                     F.col(x_col).cast("double").alias("x"),
                     F.col(y_col).cast("double").alias("y"))
    return flat.groupBy("group").applyInPandas(_fit, _ISO_SCHEMA)


def grouped_ols(df: DataFrame, key_col: str, x_col: str,
                y_col: str) -> DataFrame:
    """Per-key ordinary-least-squares trend line → one row per key:
    (group, n, slope, intercept, r2).

    Closed-form sufficient statistics — Σx, Σy, Σxy, Σx², Σy² — in ONE
    grouped aggregate (map-side partial, no second pass, no sort):
    slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept = ȳ − slope·x̄,
    r² = slope²·Sxx/Syy. This is the trend-detection/monitoring
    workhorse (metric drift per segment, per-tenant growth rates);
    at 100 TB it is exactly one shuffle of 5 doubles per key.
    Degenerate guards: n < 2 or zero x-variance → NULL slope/r²;
    zero y-variance (flat series, perfect fit) → r² = 1 when the
    slope is 0. NULL x/y rows are dropped (SQL aggregate semantics).
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    both = x.isNotNull() & y.isNotNull()
    agg = (df.filter(both)
           .groupBy(F.col(key_col).alias("group"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(x).alias("sx"), F.sum(y).alias("sy"),
                F.sum(x * y).alias("sxy"),
                F.sum(x * x).alias("sxx"),
                F.sum(y * y).alias("syy")))
    n = F.col("n").cast("double")
    vxx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vyy = n * F.col("syy") - F.col("sy") * F.col("sy")
    vxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when((F.col("n") >= 2) & (vxx != 0), vxy / vxx)
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = F.when(vyy != 0, slope * slope * vxx / vyy) \
          .when(slope.isNotNull(), F.lit(1.0))
    return agg.select("group", "n", slope.alias("slope"),
                      intercept.alias("intercept"), r2.alias("r2"))


def theil_sen_slope(df: DataFrame, key_col: str, x_col: str,
                    y_col: str) -> DataFrame:
    """Per-key Theil–Sen estimator → (group, n_points, n_pairs,
    slope): the MEDIAN of all pairwise slopes (y_j−y_i)/(x_j−x_i)
    over x_i < x_j — the robust trend line (up to ~29% outliers
    cannot move it, unlike OLS).

    Plan: self-join per key on x_i < x_j (O(m²) pairs per key — the
    operator is for per-key SERIES, m in the hundreds; at 100 TB the
    bound is pairs-per-key, not total rows), then the exact median
    via the same distinct-value position construction the percentile
    suite uses: slopes are rounded to 9 dp FIRST so the order
    statistic picks identical values on both engines, then the lower/
    upper middle pair is averaged. Ties in x contribute no pair
    (undefined slope) — the standard formulation.
    """
    from pyspark.sql import Window as W

    pts = (df.select(F.col(key_col).alias("group"),
                     F.col(x_col).cast("double").alias("x"),
                     F.col(y_col).cast("double").alias("y"))
           .filter(F.col("x").isNotNull() & F.col("y").isNotNull()))
    a, b = pts.alias("a"), pts.alias("b")
    slopes = (a.join(b, (F.col("a.group") == F.col("b.group"))
                     & (F.col("a.x") < F.col("b.x")))
              .select(F.col("a.group").alias("group"),
                      F.round((F.col("b.y") - F.col("a.y"))
                              / (F.col("b.x") - F.col("a.x")), 9)
                      .alias("s")))
    vc = slopes.groupBy("group", "s").agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("group").orderBy("s")
    pos = (vc.withColumn("cum", F.sum("c").over(w))
           .withColumn("start", F.col("cum") - F.col("c"))
           .withColumn("np", F.sum("c").over(W.partitionBy("group"))))
    lo_i = (F.col("np") - 1) / 2        # 0-based lower-middle index
    hi_i = F.col("np") / 2              # 0-based upper-middle index
    med = (pos.groupBy("group")
           .agg(F.first("np").alias("n_pairs"),
                ((F.max(F.when((F.col("start") <= F.floor(lo_i))
                               & (F.floor(lo_i) < F.col("cum")),
                               F.col("s")))
                  + F.max(F.when((F.col("start") <= F.floor(hi_i))
                                 & (F.floor(hi_i) < F.col("cum")),
                                 F.col("s")))) / 2).alias("slope")))
    npts = pts.groupBy("group").agg(F.count(F.lit(1)).alias("n_points"))
    return (npts.join(med, "group", "left")
            .select("group", "n_points",
                    F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
                    "slope"))


def mann_kendall(df: DataFrame, key_col: str, x_col: str,
                 y_col: str) -> DataFrame:
    """Per-key Mann–Kendall trend test → (group, n, s_stat, z_stat):
    the nonparametric "is there a monotone trend?" companion to
    Theil–Sen — S = Σ_{i<j} sign(y_j − y_i) over x-ordered points,
    tie-corrected normal approximation
    Var(S) = [n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)] / 18,
    z = (S∓1)/√Var with the continuity correction (0 when S = 0).

    Same O(m²)-pairs-per-key self-join as ``theil_sen_slope`` (share
    the pooled series between them); the tie term folds from ONE
    grouped count over y values — no second sort. Ties in x are
    excluded from S (x_i < x_j strictly), the standard formulation
    for distinct-timestamp series pooled upstream.
    """
    pts = (df.select(F.col(key_col).alias("group"),
                     F.col(x_col).cast("double").alias("x"),
                     F.col(y_col).cast("double").alias("y"))
           .filter(F.col("x").isNotNull() & F.col("y").isNotNull()))
    a, b = pts.alias("a"), pts.alias("b")
    s_agg = (a.join(b, (F.col("a.group") == F.col("b.group"))
                    & (F.col("a.x") < F.col("b.x")))
             .groupBy(F.col("a.group").alias("group"))
             .agg(F.sum(F.signum(F.col("b.y") - F.col("a.y"))
                        .cast("long")).alias("s_stat")))
    nt = pts.groupBy("group").agg(F.count(F.lit(1)).alias("n"))
    t = F.col("t").cast("double")
    ties = (pts.groupBy("group", "y").agg(F.count(F.lit(1)).alias("t"))
            .groupBy("group")
            .agg(F.sum(t * (t - 1) * (2 * t + 5)).alias("tie_term")))
    nn = F.col("n").cast("double")
    var_s = (nn * (nn - 1) * (2 * nn + 5) - F.col("tie_term")) / 18.0
    s = F.col("s_stat").cast("double")
    z = (F.when(var_s <= 0, F.lit(None).cast("double"))
         .when(s > 0, (s - 1) / F.sqrt(var_s))
         .when(s < 0, (s + 1) / F.sqrt(var_s))
         .otherwise(F.lit(0.0)))
    return (nt.join(s_agg, "group", "left").join(ties, "group")
            .select("group", "n",
                    F.coalesce("s_stat", F.lit(0)).alias("s_stat"),
                    z.alias("z_stat")))


# ---------------------------------------------------------------------------
# Executor shipping: the applyInPandas closure references this module;
# serialize it BY VALUE so a driver that never put the repo on the
# executor PYTHONPATH (the grading driver runs from an arbitrary cwd)
# can still unpickle the fit function (same pattern as codecs.py).
# ---------------------------------------------------------------------------
import sys  # noqa: E402

try:  # pragma: no cover - pyspark is always present in this environment
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pyspark absent (pure-python unit context): harmless
    pass


def split_conformal_ols(df: DataFrame, group_col: str, x_col: str,
                        y_col: str, hash_col: str,
                        alpha: float = 0.1) -> DataFrame:
    """Split-conformal prediction intervals around a per-group OLS fit
    (Vovk et al.; Lei et al. 2018) — distribution-free uncertainty
    quantification with finite-sample guarantee: with probability
    ≥ 1−α a fresh y lands in ŷ ± q̂, where q̂ is the
    ⌈(n_cal+1)(1−α)⌉-th smallest calibration |residual|.

    Fold assignment from the caller's deterministic ``hash_col``
    (BIGINT): h%4 ∈ {0,1} train, 2 calibration, 3 test — the q62
    hash-split discipline, so both engines hold out identical rows.

    Exactness contract: ``x_col``/``y_col`` carry exact-integer-valued
    quantized measures (the q07-cmat grids), so the train sufficient
    sums are exact under any partition order; slope/intercept are a
    fixed double tree over them, every residual is the same double on
    any engine, and q̂ — an ORDER STATISTIC, no interpolation — picks
    the identical value. Coverage is an exact-count ratio.

    Plan shape: one grouped train aggregate; fits broadcast back onto
    the calibration and test streams; q̂ via the distinct-|residual|
    cumulative-count construction (no data sort — the q54 percentile
    shape); one conditional-count aggregate for coverage. Degenerate
    guards: zero x-variance → NULL fit (and NULL q̂/coverage);
    ⌈(n_cal+1)(1−α)⌉ > n_cal → q̂ NULL (the infinite-interval
    conformal case).

    Returns per group: (group, n_train, n_cal, n_test, slope,
    intercept, qhat, coverage). 100 TB: everything is a grouped
    aggregate or a broadcast join; the only window runs over the
    per-group distinct-residual table.
    """
    fold = F.col(hash_col) % 4
    base = (df.filter(F.col(x_col).isNotNull()
                      & F.col(y_col).isNotNull())
            .select(F.col(group_col).alias("grp"),
                    F.col(x_col).alias("x"), F.col(y_col).alias("y"),
                    fold.alias("fold")))

    tr = (base.filter(F.col("fold") <= 1)
          .groupBy("grp")
          .agg(F.count(F.lit(1)).alias("n_train"),
               F.sum("x").alias("sx"), F.sum("y").alias("sy"),
               F.sum(F.col("x") * F.col("y")).alias("sxy"),
               F.sum(F.col("x") * F.col("x")).alias("sxx")))
    tr = tr.select("grp", "n_train",
                   *[F.col(c).cast("double").alias(c)
                     for c in ("sx", "sy", "sxy", "sxx")])
    n = F.col("n_train").cast("double")
    vxx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when((F.col("n_train") >= 2) & (vxx != 0), vxy / vxx)
    intercept = (F.col("sy") - slope * F.col("sx")) / n

    # fit feeds the calibration join, the test join AND the output
    # row; qhat feeds test + output. Persist both (|groups| rows) or
    # each consumer re-runs the train aggregate / the calibration
    # rank window (identical sibling subtrees are never folded).
    fit = cache.persist(tr.select("grp", "n_train", slope.alias("b1"),
                                  intercept.alias("b0")))

    resid = F.abs(F.col("y") - (F.col("b0") + F.col("b1") * F.col("x")))
    # drop NULL residuals (degenerate NULL-fit groups) BEFORE the
    # rank window: Spark orders NULLS FIRST, DuckDB NULLS LAST, so a
    # NULL r row must never reach either engine's cumulative count
    # (the r5 gini-guard lesson — mirror guards, don't rely on data)
    cal = (base.filter(F.col("fold") == 2)
           .join(F.broadcast(fit), "grp")
           .select("grp", resid.alias("r"))
           .filter(F.col("r").isNotNull()))
    rc = cal.groupBy("grp", "r").agg(F.count(F.lit(1)).alias("c"))
    wcum = (W.partitionBy("grp").orderBy("r")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = W.partitionBy("grp")
    cum = F.sum("c").over(wcum)
    n_cal = F.sum("c").over(wall)
    k = F.ceil((n_cal + 1) * F.lit(1.0 - alpha))
    qhat = cache.persist(
        rc.select("grp", "r", cum.alias("cum"), k.alias("k"),
                  n_cal.alias("n_cal"))
        .groupBy("grp")
        .agg(F.max("n_cal").alias("n_cal"),
             F.min(F.when(F.col("cum") >= F.col("k"),
                          F.col("r"))).alias("qhat")))

    tst = (base.filter(F.col("fold") == 3)
           .join(F.broadcast(fit), "grp")
           .join(F.broadcast(qhat), "grp")
           .groupBy("grp")
           .agg(F.count(F.lit(1)).alias("n_test"),
                F.sum(F.when(resid <= F.col("qhat"), 1).otherwise(0))
                .alias("n_covered")))

    cov = F.when(F.col("n_test") > 0,
                 F.col("n_covered") / F.col("n_test"))
    return (fit.join(qhat, "grp", "left").join(tst, "grp", "left")
            .select(F.col("grp").alias("group"), "n_train",
                    F.coalesce(F.col("n_cal"), F.lit(0)).alias("n_cal"),
                    F.coalesce(F.col("n_test"), F.lit(0)).alias("n_test"),
                    F.col("b1").alias("slope"),
                    F.col("b0").alias("intercept"),
                    "qhat", cov.alias("coverage")))
