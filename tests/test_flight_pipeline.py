"""M4 golden-range tests (SURVEY.md §5.2): the E1 pipeline on the
reference-shaped synthetic fixture must recover the planted linear
signal (ArrDelay ≈ DepDelay + 0.05·TaxiOut + N(0,8)).

Reference-published values (real year-2000 data, SURVEY.md §6) are
data-dependent; the portable assertions are metric RANGES, never
hashes (ML training is seed-sensitive — §7 hard part 1).
"""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark.sql import functions as F

from bigdata_spark_assignment_spark.fixtures import (
    FORBIDDEN_COLUMNS,
    make_flights,
    make_planes,
)
from bigdata_spark_assignment_spark.ml.flight_delay import (
    LABEL,
    FlightDelayPipeline,
    clean_flights,
    cross_validate,
    featurize,
)


@pytest.fixture(scope="module")
def fixture_tables(spark):
    flights = make_flights(spark, n=4000).cache()
    planes = make_planes(spark, n=800).cache()
    yield flights, planes
    flights.unpersist()
    planes.unpersist()


@pytest.fixture(scope="module")
def csv_tables(spark, fixture_tables, tmp_path_factory):
    """The 4k fixture round-tripped through header CSVs and read back
    with ``io.read_csv`` (all strings), as the batch job reads it."""
    from bigdata_spark_assignment_spark.io import read_csv

    root = tmp_path_factory.mktemp("flight_csv")
    frames = []
    for name, df in zip(("flights", "planes"), fixture_tables):
        path = str(root / name)
        df.write.option("header", True).csv(path)
        frames.append(read_csv(spark, path))
    return tuple(frames)


@pytest.fixture(scope="module")
def prepared_4k(fixture_tables):
    """The 4k fixture through ``prepare`` (fdr), cached, with its
    pipeline (``cv_folds=3``)."""
    pipe = FlightDelayPipeline(selector_mode="fdr", cv_folds=3)
    prepared = pipe.prepare(*fixture_tables).cache()
    yield pipe, prepared
    prepared.unpersist()


@pytest.mark.parametrize("model", ["lr", "dtr"])
def test_cross_validate_matches_crossvalidator(spark, prepared_4k, model):
    """Differential: ``cross_validate`` (fold-parallel) gives bit-equal
    ``avgMetrics`` and held-out RMSE to pyspark's CrossValidator, on
    ``fit_evaluate``'s narrowed 70/30 split. The 2-point LR grid refits
    after the folds; the 1-point DTR grid refits concurrently."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.regression import DecisionTreeRegressor, LinearRegression
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    pipe, prepared = prepared_4k
    cols = (LABEL, pipe.features_col)
    train, test = prepared.randomSplit([0.7, 0.3], seed=pipe.seed)
    train, test = train.select(*cols).cache(), test.select(*cols)
    if model == "lr":
        est = LinearRegression(featuresCol=pipe.features_col, labelCol=LABEL,
                               maxIter=10)
        grid = ParamGridBuilder().addGrid(est.regParam, [0.01, 0.5]).build()
    else:
        est = DecisionTreeRegressor(featuresCol=pipe.features_col,
                                    labelCol=LABEL, seed=pipe.seed)
        grid = ParamGridBuilder().build()
    rmse = RegressionEvaluator(labelCol=LABEL, metricName="rmse")
    try:
        want = CrossValidator(estimator=est, estimatorParamMaps=grid,
                              evaluator=rmse, numFolds=pipe.cv_folds,
                              parallelism=pipe.parallelism,
                              seed=pipe.seed).fit(train)
        got, avg = cross_validate(est, grid, rmse, train, pipe.cv_folds,
                                  pipe.seed, pipe.parallelism)
        assert avg == list(want.avgMetrics)
        assert (rmse.evaluate(got.transform(test))
                == rmse.evaluate(want.bestModel.transform(test)))
    finally:
        train.unpersist()


def test_fit_evaluate_jobs_stay_in_callers_job_group(spark, prepared_4k):
    """Every job ``fit_evaluate`` submits — the fold fits run on pool
    threads — carries the caller's job group, so per-group accounting
    (job counts, tracing, cancellation) sees all of them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    pipe, prepared = prepared_4k
    bus.waitUntilEmpty(60_000)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "fit_evaluate job-group test")
    try:
        pipe.fit_evaluate(prepared, models=("lr",))
    finally:
        sc.setJobGroup(None, None)
    bus.waitUntilEmpty(60_000)
    leaked = set(tracker.getJobIdsForGroup(None)) - ungrouped
    grouped = sorted(tracker.getJobIdsForGroup("g"))
    assert grouped and not leaked, (grouped, sorted(leaked))
    assert grouped == list(range(grouped[0], grouped[-1] + 1)), grouped


def reference_clean(flights, planes):
    """The lazy form of ``clean_flights``, as a reference: broadcast
    join (TailNum discriminates in the fixtures), then the registered
    operators ``prune_constant_columns``, ``impute_mode`` and
    ``impute_mean``, whose statistics are cross-joined 1-row frames
    over the whole upstream plan."""
    from bigdata_spark_assignment_spark.ml.flight_delay import (
        MEAN_IMPUTE_COLS,
        MODE_IMPUTE_COLS,
        NUMERIC_COLS,
    )
    from bigdata_spark_assignment_spark.operators.cleaning import (
        day_part_expr,
        derived_age_expr,
        impute_mean,
        impute_mode,
        na_to_null,
        null_to_unknown,
        prune_constant_columns,
    )

    df = flights.drop(*FORBIDDEN_COLUMNS)
    df = df.filter(F.col(LABEL).isNotNull() & (F.col(LABEL) != "NA"))
    df = df.filter(F.col("Cancelled") == "0").drop("Cancelled",
                                                   "CancellationCode")
    dim = planes.drop("status", "year").filter(
        F.col("issue_date").isNotNull()
        & ~F.col("issue_date").isin("None", "NA")
        & F.col("manufacturer").isNotNull())
    df = df.join(F.broadcast(dim.withColumnRenamed("tailnum", "TailNum")),
                 "TailNum")
    df = na_to_null(df)
    df = df.withColumns({c: F.col(c).cast("int") for c in NUMERIC_COLS})
    df = prune_constant_columns(df, force_keep=("Year",))
    df = impute_mode(df, [c for c in MODE_IMPUTE_COLS if c in df.columns])
    df = impute_mean(df, [c for c in MEAN_IMPUTE_COLS if c in df.columns])
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
    return df.drop("FlightNum", "TailNum")


def test_prepare_cuts_csv_lineage(spark, csv_tables):
    """The cleaned frame's plan is the cut plus narrow operators: no
    CSV scan downstream of ``prepare``, and no cross-joined statistic
    (they re-enter as literals)."""
    flights, planes = csv_tables
    prepared = FlightDelayPipeline(selector_mode="fdr").prepare(
        flights, planes)
    plan = prepared._jdf.queryExecution().executedPlan().toString()
    assert "FileScan csv" not in plan, plan
    cleaned = clean_flights(flights, planes)
    plan = cleaned._jdf.queryExecution().executedPlan().toString()
    assert "FileScan csv" not in plan, plan
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, plan


def test_prepare_matches_uncut_lineage(spark, csv_tables):
    """Differential: the fitted, literal cleaning gives the same
    multiset of cleaned rows as ``reference_clean``, and ``prepare``
    the same selected features and (label, selectedFeatures) rows as
    featurize(reference_clean(...)) + the same selector, lazy."""
    from pyspark.ml.feature import UnivariateFeatureSelector

    flights, planes = csv_tables
    cleaned, uncut = clean_flights(flights, planes), \
        reference_clean(flights, planes)
    assert cleaned.dtypes == uncut.dtypes
    got, want = (Counter(tuple(r) for r in df.collect())
                 for df in (cleaned, uncut))
    assert sum(got.values()) > 2000
    assert got == want

    pipe = FlightDelayPipeline(selector_mode="fdr")
    prepared = pipe.prepare(flights, planes)
    uncut = featurize(uncut).withColumn(LABEL, F.col(LABEL).cast("double"))
    sel = UnivariateFeatureSelector(
        featuresCol="normFeatures", outputCol="selectedFeatures",
        labelCol=LABEL, selectionMode="fdr")
    sel.setFeatureType("continuous").setLabelType("continuous")
    sel.setSelectionThreshold(pipe.selection_threshold)
    model = sel.fit(uncut)
    assert pipe.selected_features == list(model.selectedFeatures)

    def rows(df):
        return Counter((r[LABEL], tuple(r.selectedFeatures.toArray()))
                       for r in df.select(LABEL, "selectedFeatures")
                       .collect())

    assert rows(prepared) == rows(model.transform(uncut))


def test_clean_flights_skips_join_on_constant_tailnum(spark):
    """J2 guard, skip path: with one TailNum value the planes are not
    joined, so no plane column and no PlaneAge exist, and every fact
    row that passes the label, cancellation and hhmm filters is kept
    (NA times are mean-imputed before the hhmm filter)."""
    flights = make_flights(spark, n=500).withColumn("TailNum", F.lit("N1"))
    df = clean_flights(flights, make_planes(spark, n=100))
    assert not set(df.columns) & {"PlaneAge", "issue_date", "manufacturer",
                                  "model", "type", "engine_type"}
    for c in ("Month", "DepDelay", "TaxiOut", "CRSDepTime"):
        assert df.filter(F.col(c).isNull()).count() == 0, c

    def hhmm_ok(v):
        return v == "NA" or int(v) <= 2400

    want = sum(1 for r in flights.collect()
               if r[LABEL] != "NA" and r.Cancelled == "0"
               and hhmm_ok(r.DepTime) and hhmm_ok(r.CRSArrTime))
    assert df.count() == want > 400


def test_clean_flights_contract(spark, fixture_tables):
    flights, planes = fixture_tables
    df = clean_flights(flights, planes).cache()
    cols = set(df.columns)
    # leakage + post-outcome columns are gone
    assert not cols & set(FORBIDDEN_COLUMNS)
    assert not cols & {"Cancelled", "CancellationCode", "FlightNum", "TailNum"}
    # label is a non-null int; derived columns exist
    assert dict(df.dtypes)["ArrDelay"] == "int"
    assert df.filter(F.col("ArrDelay").isNull()).count() == 0
    assert {"PlaneAge", "DepTimeDayPart", "CRSArrTimeDayPart"} <= cols
    # PlaneAge clamped at 0, never negative (Main.scala:285 semantics)
    assert df.filter(F.col("PlaneAge") < 0).count() == 0
    # day-part buckets only contain the 8 labels (dirty hhmm filtered)
    parts = {r[0] for r in df.select("DepTimeDayPart").distinct().collect()}
    assert parts <= {"lateNight", "earlyMorning", "lateMorning",
                     "earlyAfternoon", "lateAfternoon", "earlyEvening",
                     "lateEvening", "earlyNight"}
    # imputation left no nulls in feature numerics
    for c in ("DepDelay", "TaxiOut", "Distance"):
        assert df.filter(F.col(c).isNull()).count() == 0
    assert df.count() > 2000  # most clean rows survive
    df.unpersist()


def test_featurize_produces_norm_vectors(spark, fixture_tables):
    flights, planes = fixture_tables
    df = featurize(clean_flights(flights, planes))
    row = df.select("features", "normFeatures").first()
    assert row.features.size == row.normFeatures.size
    # L1 normalization: component sum ≈ 1 (Normalizer p=1.0, M6)
    assert abs(sum(abs(v) for v in row.normFeatures.toArray()) - 1.0) < 1e-9


# r12: retrains an MLlib model per run; q43 surface frozen since r10 — slow set
@pytest.mark.slow
def test_linear_regression_recovers_signal(spark, fixture_tables):
    flights, planes = fixture_tables
    pipe = FlightDelayPipeline(selector_mode="fdr", cv_folds=3)
    prepared = pipe.prepare(flights, planes).cache()
    metrics = pipe.fit_evaluate(prepared, models=("lr",))
    prepared.unpersist()
    # planted noise σ=8 over DepDelay σ≈25 ⇒ R² ≈ 1 - 64/689 ≈ 0.9;
    # generous band for fixture size + OHE noise features
    assert metrics["lr"]["r2"] > 0.6, metrics
    assert metrics["lr"]["rmse"] < 16, metrics


# r12: retrains two tree models per run; frozen surface — slow set
@pytest.mark.slow
def test_tree_models_run_and_beat_constant_baseline(spark, fixture_tables):
    flights, planes = fixture_tables
    pipe = FlightDelayPipeline(selector_mode=None, cv_folds=2)
    prepared = pipe.prepare(flights, planes).cache()
    metrics = pipe.fit_evaluate(prepared, models=("dtr", "rf"))
    prepared.unpersist()
    for name in ("dtr", "rf"):
        assert metrics[name]["r2"] > 0.0, metrics
        assert metrics[name]["rmse"] > 0.0


def test_fdr_fwe_selector_equivalence(spark, fixture_tables):
    """M8/M9 + the reference's headline finding (Report §8 / SURVEY §6):
    FDR and FWE at threshold 0.05 select essentially the same features.
    FWE (family-wise, Bonferroni-shaped) can never be MORE permissive
    than FDR (Benjamini-Hochberg)."""
    from pyspark.ml.feature import UnivariateFeatureSelector

    flights, planes = fixture_tables
    df = featurize(clean_flights(flights, planes)) \
        .withColumn(LABEL, F.col(LABEL).cast("double")).cache()
    selected = {}
    for mode in ("fdr", "fwe"):
        sel = UnivariateFeatureSelector(
            featuresCol="normFeatures", outputCol="sel",
            labelCol=LABEL, selectionMode=mode)
        sel.setFeatureType("continuous").setLabelType("continuous")
        sel.setSelectionThreshold(0.05)
        selected[mode] = set(sel.fit(df).selectedFeatures)
    df.unpersist()
    assert selected["fdr"] and selected["fwe"]
    assert selected["fwe"] <= selected["fdr"]
    # "no measurable difference" band: FWE keeps ≥ 60% of FDR's picks
    assert len(selected["fwe"]) >= 0.6 * len(selected["fdr"]), (
        {m: len(s) for m, s in selected.items()})


# r12: retrains an RF per run; frozen surface — slow set
@pytest.mark.slow
def test_rf_golden_range_on_planted_signal(spark, fixture_tables):
    """M12 golden range (reference publishes RF RMSE 19.17 / R² 0.726
    on real data, SURVEY §6): on the fixture's planted signal RF must
    land materially above the constant baseline — band, not hash."""
    flights, planes = fixture_tables
    pipe = FlightDelayPipeline(selector_mode="fdr", cv_folds=2)
    prepared = pipe.prepare(flights, planes).cache()
    metrics = pipe.fit_evaluate(prepared, models=("rf",))
    prepared.unpersist()
    assert metrics["rf"]["r2"] > 0.3, metrics
    assert metrics["rf"]["rmse"] < 25, metrics


def test_cli_lifecycle_end_to_end(spark):
    """E1 parity (Main.scala:41-76): ONE command replays the whole
    lifecycle — load → clean → featurize → select → CV → metrics."""
    from bigdata_spark_assignment_spark.cli import main

    metrics = main(["--fixture", "--fixture-rows", "2500",
                    "--models", "lr", "--cv-folds", "2"])
    assert "lr" in metrics
    assert metrics["lr"]["r2"] > 0.5


@pytest.mark.slow
def test_expo_shaped_metrics_discriminate_models(spark):
    """NON-planted golden ranges (r5, VERDICT r4 #2): on the
    Data-Expo-SHAPED generator (hub skew, seasonal/time-of-day delay
    propagation, heavy-tailed DepDelay, dominantly-linear arrival
    leg — fixtures.make_flights_expo) the model ORDERING the reference
    found on the real year-2000 file must emerge: LinearRegression
    beats both default-depth tree models (Report §8: LR 12.75/0.89 vs
    DTR 16.81/0.79 and RF 19.17/0.726), because trees
    piecewise-constant-underfit the wide continuous DepDelay signal.
    tools/ml_parity.py runs the same protocol at 1M rows / 5 folds;
    BASELINE.md records that table."""
    from bigdata_spark_assignment_spark.fixtures import make_flights_expo

    flights = make_flights_expo(spark, n=60_000)
    planes = make_planes(spark, n=3000)
    pipe = FlightDelayPipeline(selector_mode="fdr", cv_folds=3)
    prepared = pipe.prepare(flights, planes).cache()
    metrics = pipe.fit_evaluate(prepared, models=("lr", "dtr", "rf"))
    prepared.unpersist()
    lr, dtr, rf = metrics["lr"], metrics["dtr"], metrics["rf"]
    # LR recovers the dominantly-linear signal
    assert 0.80 < lr["r2"] < 0.97, metrics
    assert lr["rmse"] < 14, metrics
    # trees learn real structure but underfit relative to LR — the
    # reference's discriminating finding, reproduced without planting
    for name in ("dtr", "rf"):
        assert 0.4 < metrics[name]["r2"] < lr["r2"] - 0.02, metrics
        assert metrics[name]["rmse"] > lr["rmse"] + 1.0, metrics
