"""Flight-delay regression pipeline — reference E1 end-to-end
(SURVEY.md §3/§2.7; reference ``Main.scala:94-666``).

The reference is a single 670-line script; here the same dataflow is
three composable layers, each a plain function over DataFrames:

1. ``clean_flights``   — the relational cleaning chain (§2.2-2.5),
   built from the engine's M2 operators (one ``withColumns`` pass per
   concern instead of the reference's per-column loops).
2. ``featurize``       — StringIndexer → OneHotEncoder →
   VectorAssembler → L1 Normalizer (M3-M7, ``Main.scala:336-376``),
   pure ``pyspark.ml`` composition.
3. ``FlightDelayPipeline.fit_evaluate`` — UnivariateFeatureSelector
   (FDR/FWE 0.05, M8-M9) → {LinearRegression, DecisionTree,
   RandomForest} × k-fold CV × {RMSE, R²} (M10-M14,
   ``Main.scala:392-666``).

Golden-range contract: §6 of SURVEY.md records the reference's
published metrics on real year-2000 data (LR RMSE ≈ 12.75 / R² ≈
0.89). Those exact values are data-dependent; the portable invariant —
asserted in tests/test_flight_pipeline.py on the synthetic fixture
with a planted linear signal — is that LR recovers the signal
(R² ≫ 0) and RMSE lands near the planted noise σ.

100 TB notes: cleaning is a fit pass and a literal transform, the
shape of the reference's ``Imputer`` → ``ImputerModel``. The fit reads
two 1-row aggregates to the driver: the join guard over the fact, and
one aggregate over the cut holding every column's constant-prune flag,
the modes and the means. They re-enter as literals, so after the
broadcast plane join (planes is a bounded dimension) the cleaned plan
is narrow projections and filters. StringIndexer collects
per-column distinct labels to the driver — bounded by categorical
cardinality, not data size. Cross-validation multiplies the training
cost by folds×grid (plus one refit); ``cross_validate`` runs those
fits concurrently, ``parallelism`` at a time.

Cross-validation is ``cross_validate``, not ``pyspark.ml.tuning.
CrossValidator``: the latter's ``parallelism`` spans only the param
maps of one fold — it runs the folds one after another and then the
refit — so with the one-point grids used here it ran k+1 fits back to
back. Each fit is a chain of small jobs (1-4 tasks each) with driver
gaps between them, so the cores idled between jobs. ``cross_validate``
submits every (fold, param map) fit-and-evaluate to one thread pool,
and with a one-point grid the refit on the whole split joins the same
pool; the work per fit is unchanged, only overlapped. Its results are
bit-equal to CrossValidator's (same ``rand(seed)`` fold bounds, same
``np.mean`` over folds, same refit), asserted in
tests/test_flight_pipeline.py.

``fit_evaluate`` projects both splits to (label, features) right
AFTER ``randomSplit``, before the training split is cached: the fits
read two of the prepared frame's ~44 columns (13 of them vectors).
Projecting before the split would change the split itself —
``Dataset.randomSplit`` sorts each partition by every orderable column
before sampling, so a narrower frame samples different rows (seed 7
LR RMSE moved 10.5888 → 11.3811 that way).

``clean_flights`` materializes the joined, NA-normalised, int-cast
frame once, with ``localCheckpoint``: the statistics and the cleaned
frame's four consumers (the StringIndexer fit, the selector's two
passes and the caller's cache fill) read its blocks, not the CSV. On 4
vCPUs a traced seed-7 pass without the cut ran 84 jobs, not 71, and
spent 59 s, not 32 s, in ``prepare``. The blocks are released when the
last frame derived from them is garbage-collected, so nothing needs an
``unpersist``. They are not replicated: losing an executor fails the
job instead of recomputing from the CSV (reliable ``checkpoint()``
into a shared directory is the cluster-scale alternative).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from multiprocessing.pool import ThreadPool

import numpy as np
from pyspark import StorageLevel
from pyspark.ml import Pipeline
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import (
    Normalizer,
    OneHotEncoder,
    StringIndexer,
    UnivariateFeatureSelector,
    VectorAssembler,
)
from pyspark.ml.regression import (
    DecisionTreeRegressor,
    LinearRegression,
    RandomForestRegressor,
)
from pyspark.ml.tuning import ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..fixtures import FORBIDDEN_COLUMNS
from ..operators.cleaning import (
    constant_expr,
    day_part_expr,
    derived_age_expr,
    mode_expr,
    na_to_null,
    null_to_unknown,
)

LABEL = "ArrDelay"

# Columns cast string→int (Main.scala:217-222), minus forbidden ones.
NUMERIC_COLS = ["Year", "Month", "DayofMonth", "DayOfWeek", "DepTime",
                "CRSDepTime", "CRSArrTime", "ArrDelay", "DepDelay",
                "Distance", "TaxiOut"]
MODE_IMPUTE_COLS = ["Year", "Month", "DayofMonth", "DayOfWeek"]
# Reference numColsMean (Main.scala:273-275): DepTime, CRSArrTime,
# DepDelay, Distance, TaxiOut. CRSArrTime matters for ORDER semantics:
# impute BEFORE the <=2400 range filter, so an NA-sourced null becomes
# the mean and survives, instead of silently failing the predicate
# (ADVICE r1). CRSDepTime is kept additionally so no numeric feature
# reaches VectorAssembler nullable.
MEAN_IMPUTE_COLS = ["DepTime", "CRSDepTime", "CRSArrTime", "DepDelay",
                    "Distance", "TaxiOut"]
CATEGORICAL_COLS = ["UniqueCarrier", "Origin", "Dest", "type", "manufacturer",
                    "model", "aircraft_type", "engine_type",
                    "DepTimeDayPart", "CRSArrTimeDayPart"]


def clean_flights(flights: DataFrame, planes: DataFrame) -> DataFrame:
    """Reference cleaning chain (``Main.scala:94-316``), Spark-first:
    a fit pass, then a literal transform (see the module notes).

    Steps (reference line refs in parens):

    * drop the 10 leakage columns (:96-97) and post-outcome bookkeeping
      (:113-119 Cancelled path);
    * keep only rows with a usable label (:104) and non-cancelled (:113);
    * broadcast-join the planes dimension on TailNum (:136; J1) after
      dropping bare/dirty plane rows (:153,:162) — only when TailNum
      discriminates (J2 guard, :132-139: >1 distinct value, NULL
      counted);
    * NA→null everywhere, then cast numerics to int (:168-222);
    * constant-column prune, force-keeping Year (:184-208);
    * mode-impute calendar ints, mean-impute continuous ints (:262-275)
      — the prune flags, the modes and the means are one aggregate;
    * PlaneAge = Year − year(issue_date) clamped at 0 (:283-285), when
      the planes were joined;
    * categorical null→"unknown" (:294-297);
    * drop dirty hhmm rows (>2400, :303) and bucketize times into
      day-part categoricals (:310-311; U3).
    """
    df = flights.drop(*FORBIDDEN_COLUMNS)
    df = df.filter(F.col(LABEL).isNotNull() & (F.col(LABEL) != "NA"))
    df = df.filter(F.col("Cancelled") == "0").drop("Cancelled", "CancellationCode")

    joined = not df.agg(constant_expr("TailNum")).first()[0]
    if joined:
        dim = planes.drop("status", "year").filter(
            F.col("issue_date").isNotNull()
            & ~F.col("issue_date").isin("None", "NA")
            & F.col("manufacturer").isNotNull())
        df = df.join(F.broadcast(dim.withColumnRenamed("tailnum", "TailNum")),
                     "TailNum")

    df = na_to_null(df)
    df = df.withColumns({c: F.col(c).cast("int") for c in NUMERIC_COLS})
    df = df.localCheckpoint()

    stats = df.agg(
        *[constant_expr(c).alias(f"__const_{c}") for c in df.columns],
        *[mode_expr(c).alias(f"__mode_{c}") for c in MODE_IMPUTE_COLS],
        *[F.avg(c).alias(f"__mean_{c}") for c in MEAN_IMPUTE_COLS]).first()
    df = df.drop(*[c for c in df.columns
                   if stats[f"__const_{c}"] and c != "Year"])
    df = df.withColumns({
        **{c: F.coalesce(F.col(c), F.lit(stats[f"__mode_{c}"])
                         .cast(df.schema[c].dataType))
           for c in MODE_IMPUTE_COLS if c in df.columns},
        **{c: F.coalesce(F.col(c), F.lit(stats[f"__mean_{c}"])
                         .cast("double"))
           for c in MEAN_IMPUTE_COLS if c in df.columns}})

    if joined:
        df = df.withColumn(
            "PlaneAge", derived_age_expr(F.col("Year"), F.col("issue_date"))) \
            .drop("issue_date")
        df = df.filter(F.col("PlaneAge").isNotNull())

    df = null_to_unknown(df, [c for c in ("UniqueCarrier", "Origin", "Dest",
                                          "type", "manufacturer", "model",
                                          "aircraft_type", "engine_type")
                              if c in df.columns])

    df = df.filter((F.col("DepTime") <= 2400) & (F.col("CRSArrTime") <= 2400))
    df = df.withColumns({
        "DepTimeDayPart": day_part_expr(F.col("DepTime")),
        "CRSArrTimeDayPart": day_part_expr(F.col("CRSArrTime")),
    }).drop("DepTime", "CRSArrTime")
    # ids carry no signal and explode OHE cardinality (:382-388 intent)
    return df.drop("FlightNum", "TailNum")


def featurize(df: DataFrame, label: str = LABEL) -> DataFrame:
    """M3-M7 (``Main.scala:336-376``): index → one-hot → assemble →
    L1-normalize, as one ``pyspark.ml.Pipeline``."""
    cats = [c for c in CATEGORICAL_COLS if c in df.columns]
    nums = [c for c in df.columns
            if c not in cats and c != label
            and dict(df.dtypes)[c] in ("int", "bigint", "double")]
    stages = []
    if cats:
        stages.append(StringIndexer(
            inputCols=cats, outputCols=[f"{c}Indexed" for c in cats],
            handleInvalid="keep"))
        stages.append(OneHotEncoder(
            inputCols=[f"{c}Indexed" for c in cats],
            outputCols=[f"{c}Cat" for c in cats]))
    stages.append(VectorAssembler(
        inputCols=nums + [f"{c}Cat" for c in cats], outputCol="features"))
    stages.append(Normalizer(inputCol="features", outputCol="normFeatures", p=1.0))
    model = Pipeline(stages=stages).fit(df)
    return model.transform(df)


def cross_validate(est, grid, evaluator, dataset: DataFrame, num_folds: int,
                   seed: int, parallelism: int):
    """M14 k-fold cross-validation with CrossValidator's semantics
    (``pyspark.ml.tuning.CrossValidator._fit``/``_kFold``), all fits
    at once. Returns ``(best_model, avg_metrics)``.

    Folds: ``rand(seed)`` over ``dataset``, fold ``i`` validates on
    ``[i·h, (i+1)·h)`` with ``h = 1/num_folds`` and trains on the rest.
    Every (fold, param map) fit-and-evaluate goes to one thread pool
    of at most ``parallelism`` threads; with a one-point grid the
    refit on the whole ``dataset`` needs no metric and is submitted
    first, as the longest fit. With more points the refit of the best map (mean
    metric over folds, ``np.mean`` as CrossValidator averages) follows
    in the calling thread. Pool targets are wrapped with
    ``inheritable_thread_target`` so the caller's job group and local
    properties follow every fold's jobs.

    Fold caches: all 2·k fold frames are persisted
    ``MEMORY_AND_DISK_DESER`` up front (CrossValidator holds one
    fold's pair at a time) and unpersisted in ``finally`` once every
    pool task has finished — k copies of ``dataset``, which is why the
    caller narrows it to the columns the fits read.
    """
    h = 1.0 / num_folds
    df = dataset.select("*", F.rand(seed).alias("__cv_rand"))
    folds = []
    for i in range(num_folds):
        held = (df["__cv_rand"] >= i * h) & (df["__cv_rand"] < (i + 1) * h)
        folds.append((df.filter(~held), df.filter(held)))

    def fit_eval(i: int, j: int) -> float:
        train, validation = folds[i]
        model = est.copy(grid[j]).fit(train)
        return evaluator.evaluate(model.transform(validation, grid[j]))

    target = inheritable_thread_target(dataset.sparkSession)
    frames = [f for pair in folds for f in pair]
    for f in frames:
        f.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    pool = ThreadPool(min(parallelism, num_folds * len(grid) + 1))
    try:
        refit = (pool.apply_async(target(est.copy(grid[0]).fit), (dataset,))
                 if len(grid) == 1 else None)
        pending = [[pool.apply_async(target(fit_eval), (i, j))
                    for j in range(len(grid))] for i in range(num_folds)]
    finally:
        pool.close()
        pool.join()
        for f in frames:
            f.unpersist()
    avg = list(np.mean([[r.get() for r in row] for row in pending], axis=0))
    if refit is not None:
        return refit.get(), avg
    best = int(np.argmax(avg) if evaluator.isLargerBetter()
               else np.argmin(avg))
    return est.fit(dataset, grid[best]), avg


@dataclass
class FlightDelayPipeline:
    """E1 orchestration: clean → featurize → select → CV-train → eval.

    ``selector_mode``: "fdr" | "fwe" | None (M8/M9, threshold 0.05 —
    the reference found no measurable difference between the two,
    SURVEY.md §6). ``cv_folds=5`` matches the reference
    (``Main.scala:470-474``); tests lower it for speed.
    ``parallelism``: how many of a model's fold fits (and its refit)
    ``cross_validate`` runs at once.
    """

    selector_mode: str | None = "fdr"
    selection_threshold: float = 0.05
    cv_folds: int = 5
    seed: int = 10
    parallelism: int = 4
    metrics: dict[str, dict[str, float]] = field(default_factory=dict)

    def prepare(self, flights: DataFrame, planes: DataFrame) -> DataFrame:
        """Clean → featurize → select; returns a lazy frame whose
        features column is ``self.features_col`` (the selector's picks,
        as indices into ``normFeatures``, in ``self.selected_features``).

        The cleaned frame reads the cut made inside ``clean_flights``
        (see the module notes for its lifecycle and trade), so the
        StringIndexer fit and the selector's passes do not re-run the
        CSV scan.
        """
        df = featurize(clean_flights(flights, planes))
        df = df.withColumn(LABEL, F.col(LABEL).cast("double"))
        if self.selector_mode:
            selector = UnivariateFeatureSelector(
                featuresCol="normFeatures", outputCol="selectedFeatures",
                labelCol=LABEL, selectionMode=self.selector_mode)
            selector.setFeatureType("continuous").setLabelType("continuous")
            selector.setSelectionThreshold(self.selection_threshold)
            model = selector.fit(df)
            df = model.transform(df)
            self.features_col = "selectedFeatures"
            self.selected_features = list(model.selectedFeatures)
        else:
            self.features_col = "normFeatures"
            self.selected_features = None
        return df

    def _estimators(self, which: tuple[str, ...]):
        fc = self.features_col
        out = {}
        if "lr" in which:
            lr = LinearRegression(featuresCol=fc, labelCol=LABEL)
            out["lr"] = (lr, ParamGridBuilder()
                         .addGrid(lr.regParam, [0.01])
                         .addGrid(lr.elasticNetParam, [0.25])
                         .addGrid(lr.maxIter, [10]).build())
        if "dtr" in which:
            dtr = DecisionTreeRegressor(featuresCol=fc, labelCol=LABEL,
                                        seed=self.seed)
            out["dtr"] = (dtr, ParamGridBuilder().build())
        if "rf" in which:
            rf = RandomForestRegressor(featuresCol=fc, labelCol=LABEL,
                                       seed=self.seed)
            out["rf"] = (rf, ParamGridBuilder().build())
        return out

    def fit_evaluate(self, prepared: DataFrame,
                     models: tuple[str, ...] = ("lr", "dtr", "rf")
                     ) -> dict[str, dict[str, float]]:
        """70/30 split seed 10 (``Main.scala:434-435``), k-fold CV per
        model (``cross_validate``, RMSE selector), RMSE + R² on the
        held-out 30%. Both splits are narrowed to (label, features)
        after the split (see the module notes for why not before)."""
        cols = (LABEL, self.features_col)
        train, test = prepared.randomSplit([0.7, 0.3], seed=self.seed)
        train, test = train.select(*cols).cache(), test.select(*cols)
        rmse_eval = RegressionEvaluator(labelCol=LABEL,
                                        predictionCol="prediction",
                                        metricName="rmse")
        r2_eval = RegressionEvaluator(labelCol=LABEL,
                                      predictionCol="prediction",
                                      metricName="r2")
        try:
            for name, (est, grid) in self._estimators(models).items():
                model, _ = cross_validate(est, grid, rmse_eval, train,
                                          self.cv_folds, self.seed,
                                          self.parallelism)
                pred = model.transform(test)
                self.metrics[name] = {
                    "rmse": rmse_eval.evaluate(pred),
                    "r2": r2_eval.evaluate(pred),
                }
        finally:
            train.unpersist()
        return self.metrics
