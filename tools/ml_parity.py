"""Data-Expo-shaped ML metric parity at scale (VERDICT r4 #2).

Runs the FULL reference protocol (``Main.scala:392-666``: clean →
featurize → UnivariateFeatureSelector(threshold 0.05) → 70/30 split
seed 10 → 5-fold CV per model → RMSE/R² on held-out 30%) on
``fixtures.make_flights_expo`` — the distributed generator whose delay
structure mirrors the real on-time data (hub skew, seasonal +
time-of-day propagation, heavy-tailed DepDelay, dominantly-linear
arrival leg) instead of the 4k-row planted fixture.

The discriminating expectation, as the reference found on the real
year-2000 file (Report.pdf §8: LR 12.75/0.89, DTR 16.81/0.79,
RF 19.17/0.726): LinearRegression beats both tree models because the
arrival-delay signal is dominantly linear in the observed features;
default-depth trees piecewise-constant-underfit a wide continuous
predictor. The committed table goes into BASELINE.md.

Each ``prepare`` (including the caller's cache fill) runs under its
own job group; its Spark job count, read from the status tracker, is
printed next to ``prepare_s``.

Usage: python tools/ml_parity.py [n_rows] [cv_folds]
       (defaults 1_000_000 and 5 — the reference protocol)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_spark_assignment_spark.fixtures import (  # noqa: E402
    make_flights_expo,
    make_planes,
)
from bigdata_spark_assignment_spark.ml.flight_delay import (  # noqa: E402
    FlightDelayPipeline,
)
from bigdata_spark_assignment_spark.session import get_session  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    folds = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_session(app_name="ml-parity")

    flights = make_flights_expo(spark, n=n)
    planes = make_planes(spark, n=3000)

    sc = spark.sparkContext
    results = {}
    t_all = time.perf_counter()
    for mode in ("fdr", "fwe"):
        pipe = FlightDelayPipeline(selector_mode=mode, cv_folds=folds)
        group = f"ml-parity-prepare-{mode}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        prepared = pipe.prepare(flights, planes).cache()
        try:
            n_rows = prepared.count()
            t_prep = time.perf_counter() - t0
            sc.setJobGroup(None, None)
            # job ids come from listener events; drain the bus first
            sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            prep_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            t0 = time.perf_counter()
            metrics = pipe.fit_evaluate(prepared, models=("lr", "dtr", "rf"))
            t_fit = time.perf_counter() - t0
        finally:
            prepared.unpersist()
        results[mode] = {
            "n_clean_rows": n_rows,
            "prepare_s": round(t_prep, 1),
            "prepare_jobs": prep_jobs,
            "fit_eval_s": round(t_fit, 1),
            "metrics": {m: {k: round(v, 3) for k, v in d.items()}
                        for m, d in metrics.items()},
        }
        print(f"[{mode}] rows={n_rows} prep={t_prep:.1f}s "
              f"prep_jobs={prep_jobs} fit={t_fit:.1f}s "
              f"{results[mode]['metrics']}", flush=True)

    out = {"n_input_rows": n, "cv_folds": folds,
           "protocol": "70/30 split seed 10, k-fold CV, RMSE selector, "
                       "held-out RMSE/R2 (Main.scala:392-666)",
           "reference_published": {
               "lr": {"rmse": 12.75, "r2": 0.89},
               "dtr": {"rmse": 16.81, "r2": 0.79},
               "rf": {"rmse": 19.17, "r2": 0.726}},
           "results": results,
           "total_s": round(time.perf_counter() - t_all, 1)}
    print(json.dumps({"ml_parity": out}), flush=True)

    # BASELINE.md-ready table
    print("\n| selector | model | RMSE | R2 | reference (real y2000) |")
    print("|---|---|---|---|---|")
    ref = out["reference_published"]
    for mode in ("fdr", "fwe"):
        for m in ("lr", "dtr", "rf"):
            d = results[mode]["metrics"][m]
            print(f"| {mode} | {m} | {d['rmse']} | {d['r2']} "
                  f"| {ref[m]['rmse']} / {ref[m]['r2']} |")


if __name__ == "__main__":
    main()
