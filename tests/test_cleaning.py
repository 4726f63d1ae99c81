"""Unit tests for cleaning operators on tiny literal DataFrames —
nulls, "NA", hhmm boundaries, empty input, all-null columns
(SURVEY.md §5.2)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from bigdata_spark_assignment_spark.operators.cleaning import (
    bucketize_expr,
    day_part_expr,
    derived_age_expr,
    distinct_counts,
    impute_mean,
    impute_mode,
    na_to_null,
    null_to_unknown,
    prune_constant_columns,
)


def test_null_to_unknown_all_tokens(spark):
    df = spark.createDataFrame(
        [(None,), ("Unknow",), ("None",), ("",), (" ",), ("ok",), ("NA",)],
        "v string")
    out = [r.v for r in null_to_unknown(df, ["v"]).collect()]
    assert out == ["unknown"] * 5 + ["ok", "NA"]


def test_na_to_null_and_default_cols(spark):
    df = spark.createDataFrame([("NA", "NA", 1), ("na", "x", 2)],
                               "a string, b string, n int")
    out = na_to_null(df).orderBy("n").collect()
    assert (out[0].a, out[0].b) == (None, None)
    assert (out[1].a, out[1].b) == ("na", "x")  # case-sensitive, like the reference
    only_a = na_to_null(df, ["a"]).orderBy("n").collect()
    assert only_a[0].b == "NA"


@pytest.mark.parametrize("hhmm,expected", [
    (0, "lateNight"), (459, "lateNight"), (500, "earlyMorning"),
    (759, "earlyMorning"), (800, "lateMorning"), (1199, "lateMorning"),
    (1200, "earlyAfternoon"), (1399, "earlyAfternoon"),
    (1400, "lateAfternoon"), (1699, "lateAfternoon"),
    (1700, "earlyEvening"), (1899, "earlyEvening"),
    (1900, "lateEvening"), (2099, "lateEvening"),
    (2100, "earlyNight"), (2400, "earlyNight"),  # last bucket closed
    (2401, ""), (-1, ""), (None, ""),
])
def test_day_part_boundaries(spark, hhmm, expected):
    df = spark.createDataFrame([(hhmm,)], "t int")
    assert df.select(day_part_expr(F.col("t")).alias("p")).first().p == expected


def test_bucketize_validates_shape():
    with pytest.raises(ValueError):
        bucketize_expr(F.col("x"), [0, 1, 2], ["only_one_label_short"][:0])


def test_prune_constant_columns(spark):
    nan = float("nan")
    df = spark.createDataFrame(
        [(1, "x", None, 7, "a", nan, -0.0, 1.5),
         (2, "x", None, 7, None, nan, 0.0, 2.5)],
        "id int, const string, allnull string, kept int, "
        "one_and_null string, nan_only double, signed_zero double, "
        "two double")
    pruned = prune_constant_columns(df, force_keep=("kept",))
    assert pruned.columns == ["id", "kept", "one_and_null", "two"]
    # the decision is exactly distinct_counts ≤ 1 (NULL a value, NaN
    # and ±0.0 by Spark's grouping equality), on rows and on no rows
    for frame in (df, df.limit(0)):
        counts = distinct_counts(frame).first().asDict()
        assert prune_constant_columns(frame).columns == [
            c for c in frame.columns if counts[c] > 1]


def test_prune_constant_columns_empty_input(spark):
    df = spark.createDataFrame([], "a int, b string")
    # zero rows → every column has 0 distinct values → all dropped
    assert prune_constant_columns(df).columns == []


def test_distinct_counts_nulls_count_as_value(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("b",), (None,)], "v string")
    assert distinct_counts(df).first().v == 3  # a, b, NULL


def test_impute_mean(spark):
    df = spark.createDataFrame([(1.0,), (None,), (3.0,)], "x double")
    vals = sorted(r.x for r in impute_mean(df, ["x"]).collect())
    assert vals == [1.0, 2.0, 3.0]


def test_impute_mode_tie_breaks_to_smaller(spark):
    df = spark.createDataFrame(
        [("b",), ("b",), ("a",), ("a",), (None,)], "x string")
    vals = sorted(r.x for r in impute_mode(df, ["x"]).collect())
    assert vals == ["a", "a", "a", "b", "b"]  # tie a/b → 'a' wins


def test_derived_age_clamps_and_propagates_null(spark):
    df = spark.createDataFrame(
        [(2008, "6/5/1995"), (2000, "1/1/2005"), (2008, None)],
        "y int, d string")
    out = df.select(
        derived_age_expr(F.col("y"), F.col("d")).alias("age")).collect()
    assert [r.age for r in out] == [13, 0, None]


def test_deterministic_split_stability(spark, sf_smoke):
    """Same key -> same split under reordering/repartitioning; ~80/20."""
    from bigdata_spark_assignment_spark.io import load_table
    from bigdata_spark_assignment_spark.operators.cleaning import (
        deterministic_split,
    )
    docs = load_table(spark, sf_smoke, "documents")
    a = {r.doc_id: r.split
         for r in deterministic_split(docs, "doc_id").collect()}
    b = {r.doc_id: r.split
         for r in deterministic_split(
             docs.repartition(7).orderBy(F.desc("n_chars")),
             "doc_id").collect()}
    assert a == b
    train_frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.7 < train_frac < 0.9


def test_stratified_sample_tolerance(spark, sf_smoke):
    from bigdata_spark_assignment_spark.io import load_table
    from bigdata_spark_assignment_spark.operators.cleaning import (
        stratified_sample,
    )
    docs = load_table(spark, sf_smoke, "documents")
    full = {r.lang: r.n for r in
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sampled = {r.lang: r.n for r in
               stratified_sample(docs, "lang", {"en": 0.5, "zh": 0.5,
                                                "de": 1.0, "fr": 1.0,
                                                "es": 1.0}, seed=42)
               .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang in ("de", "fr", "es"):
        assert sampled[lang] == full[lang]
    for lang in ("en", "zh"):
        # binomial(n, 0.5): allow 4 sigma
        import math
        sigma = math.sqrt(full[lang] * 0.25)
        assert abs(sampled[lang] - full[lang] * 0.5) < 4 * sigma + 1


def test_impute_mode_single_pass_semantics(spark):
    from bigdata_spark_assignment_spark.operators.cleaning import impute_mode

    # numeric tie: 2 and 10 both appear twice — mode must be the
    # NUMERICALLY smaller (2), not the lexically smaller ("10")
    df = spark.createDataFrame(
        [(10,), (10,), (2,), (2,), (7,), (None,)], "x int")
    out = impute_mode(df, ["x"])
    vals = sorted(r.x for r in out.collect())
    assert vals == [2, 2, 2, 7, 10, 10]
    assert dict(out.dtypes)["x"] == "int"

    # signed zeros, NaN (ordered above every number) and dates: the
    # value imputed into the one NULL row, compared by repr so -0.0
    # and NaN are told apart
    nan = float("nan")
    cases = [
        ("double", [-0.0, -0.0, 0.0, 0.0, 0.0, 1.0], 0.0),
        ("double", [-0.0, -0.0, -0.0, 0.0, 0.0, 1.0, 1.0, 1.0], -0.0),
        ("double", [nan, nan, 1.0, 1.0, 2.0], 1.0),
        ("double", [nan, nan, nan, 1.0, 1.0], nan),
        ("date", [dt.date(2020, 1, 2), dt.date(2020, 1, 2),
                  dt.date(2019, 12, 31), dt.date(2019, 12, 31)],
         dt.date(2019, 12, 31)),
    ]
    for typ, xs, want in cases:
        df = spark.createDataFrame(
            [(i, x) for i, x in enumerate([*xs, None])], f"id int, x {typ}")
        got = impute_mode(df, ["x"]).filter(F.col("id") == len(xs)).first().x
        assert repr(got) == repr(want), (xs, got)


def test_impute_mode_multi_column_and_types(spark):
    from bigdata_spark_assignment_spark.operators.cleaning import impute_mode

    df = spark.createDataFrame(
        [(1, "a", 1.5), (None, "a", None), (1, None, 2.5), (2, "b", 1.5)],
        "i int, s string, d double")
    out = impute_mode(df, ["i", "s", "d"]).collect()
    by = {tuple(r) for r in out}
    assert (1, "a", 1.5) in by
    # nulls filled with per-column modes: i→1, s→"a", d→1.5
    assert (1, "a", 1.5) in by and (1, "a", 2.5) in by
    assert not any(v is None for r in out for v in r)


def test_impute_mode_all_null_column_is_left_alone(spark):
    """ADVICE r1: an all-null column must NOT annihilate the dataset
    (the r1 per-column crossJoin with an empty mode frame did)."""
    from bigdata_spark_assignment_spark.operators.cleaning import impute_mode

    df = spark.createDataFrame(
        [(1, None), (2, None), (None, None)],
        "x int, dead int")
    out = impute_mode(df, ["x", "dead"]).collect()
    assert len(out) == 3  # nothing annihilated
    assert sorted(r.x for r in out) == [1, 1, 2]  # x imputed with mode 1
    assert all(r.dead is None for r in out)  # all-null col left null


def test_ml_imputer_equivalence(spark):
    """SURVEY M1/M2 letter: the engine's SQL-expressible impute ops
    agree with pyspark.ml.feature.Imputer (mean and mode) row-for-row."""
    from pyspark.ml.feature import Imputer

    from bigdata_spark_assignment_spark.operators.cleaning import (
        impute_mean,
        impute_mode,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 4.0), (4, None), (5, 7.0)],
        "id int, x double")
    eng = {r.id: r.x for r in impute_mean(df, ["x"]).collect()}
    lib = {r.id: r.x_out for r in
           Imputer(strategy="mean", inputCols=["x"], outputCols=["x_out"])
           .fit(df).transform(df).collect()}
    assert eng.keys() == lib.keys()
    for k in eng:
        assert abs(eng[k] - lib[k]) < 1e-12

    # mode (no tie, so both tie-break policies agree)
    df2 = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 9.0), (4, None)], "id int, y double")
    eng2 = {r.id: r.y for r in impute_mode(df2, ["y"]).collect()}
    lib2 = {r.id: r.y_out for r in
            Imputer(strategy="mode", inputCols=["y"], outputCols=["y_out"])
            .fit(df2).transform(df2).collect()}
    assert eng2 == lib2


def test_mixture_sample_deterministic_and_rated(spark, sf_smoke):
    from bigdata_spark_assignment_spark.io import load_table
    from bigdata_spark_assignment_spark.operators.cleaning import (
        mixture_sample,
    )
    docs = load_table(spark, sf_smoke, "documents")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    a = mixture_sample(docs, "source", rates, "doc_id", default_rate=0.75)
    b = mixture_sample(docs, "source", rates, "doc_id", default_rate=0.75)
    ids_a = sorted(r.doc_id for r in a.select("doc_id").collect())
    ids_b = sorted(r.doc_id for r in b.select("doc_id").collect())
    assert ids_a == ids_b                      # same member set on rerun
    by_src_full = {r.source: r.n for r in
                   docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
                   .collect()}
    by_src = {r.source: r.n for r in
              a.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    assert by_src.get("src0", 0) == by_src_full["src0"]   # rate 1.0 keeps all
    assert "src2" not in by_src                           # rate 0.0 drops all
    import math
    for src, rate in (("src1", 0.5),):
        n = by_src_full[src]
        sigma = math.sqrt(n * rate * (1 - rate))
        assert abs(by_src.get(src, 0) - n * rate) < 4 * sigma + 1


def test_resample_ffill_grid_gaps_and_leading_nulls(spark):
    """r5 resample_ffill: fixed grid per key, bucket sums, forward-fill
    across gaps, NULL before a key's first observation, inclusive end
    boundary."""
    from pyspark.sql import functions as F

    from bigdata_spark_assignment_spark.operators.relational import (
        resample_ffill,
    )
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10", 5.0),   # bucket 0
         (1, "2024-01-01 00:00:20", 3.0),   # bucket 0 (sums to 8)
         (1, "2024-01-01 00:45:00", 2.0),   # bucket 3 (gap at 1, 2)
         (2, "2024-01-01 00:30:00", 7.0),   # key 2: first obs bucket 2
         (2, "2024-01-01 01:00:00", 1.0)],  # exactly at w_end: bucket 4
        "user_id long, ts string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    iv = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:00:00")],
        "user_id long, w_start string") \
        .withColumn("w_start", F.col("w_start").cast("timestamp_ntz")) \
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 1 HOUR"))
    out = {(r.user_id, r.bucket_idx): r for r in
           resample_ffill(ev, iv, "ts", "value", ["user_id"],
                          step_seconds=900).collect()}
    assert len(out) == 10                      # 2 keys x 5 buckets
    k1 = [out[(1, i)] for i in range(5)]
    assert [r.bucket_sum for r in k1] == [8.0, None, None, 2.0, None]
    assert [r.filled_sum for r in k1] == [8.0, 8.0, 8.0, 2.0, 2.0]
    assert [r.is_gap for r in k1] == [False, True, True, False, True]
    k2 = [out[(2, i)] for i in range(5)]
    assert [r.filled_sum for r in k2] == [None, None, 7.0, 7.0, 1.0]
    assert k2[0].is_gap and k2[1].is_gap      # leading gaps stay NULL
    assert k2[4].bucket_sum == 1.0            # w_end inclusive


def test_weighted_sample_topk_bias_determinism_and_exact_k(spark):
    """r5 weighted sampling: (a) deterministic member set across calls;
    (b) exactly k rows (all rows when k >= n); (c) rows with 10x the
    weight are strongly over-represented vs their population share."""
    from pyspark.sql import functions as F

    from bigdata_spark_assignment_spark.operators.cleaning import (
        weighted_sample_topk,
    )
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        # 10% heavy rows with weight 50, the rest weight 5
        F.when(F.col("id") % 10 == 0, 50.0).otherwise(5.0).alias("w"))
    s1 = {r.doc_id for r in
          weighted_sample_topk(df, F.col("w"), k=400).collect()}
    s2 = {r.doc_id for r in
          weighted_sample_topk(df, F.col("w"), k=400).collect()}
    assert s1 == s2 and len(s1) == 400
    heavy = sum(1 for d in s1 if d % 10 == 0)
    # population share of heavy rows is 10%; with 10x weight their
    # sample share must be far above it (E ~ 0.5 at these odds)
    assert heavy / 400 > 0.30, heavy
    # k >= n keeps everything
    assert weighted_sample_topk(df, F.col("w"), k=5000).count() == 2000


def test_ewma_smooth_hand_computed(spark):
    """r5 session 4: finite-horizon EWMA — hand-checked values with
    head renormalization (adjust=True semantics), per-key isolation,
    and a single-window plan (no join, no extra exchange)."""
    from bigdata_spark_assignment_spark.operators.relational import (
        ewma_smooth,
    )
    rows = [("u", 1, 10.0), ("u", 2, 20.0), ("u", 3, 30.0),
            ("v", 1, 5.0)]
    df = spark.createDataFrame(rows, ["k", "seq", "value"])
    out = {(r.k, r.seq): r.ewma for r in
           ewma_smooth(df, ["k"], ["seq"], "value",
                       alpha=0.5, horizon=8).collect()}
    # weights 1, .5, .25 over available lags, renormalized
    assert out[("u", 1)] == pytest.approx(10.0)
    assert out[("u", 2)] == pytest.approx((20 + 0.5 * 10) / 1.5)
    assert out[("u", 3)] == pytest.approx((30 + 0.5 * 20 + 0.25 * 10)
                                          / 1.75)
    assert out[("v", 1)] == pytest.approx(5.0)  # keys don't leak

    # pandas cross-check on a longer series (ewm adjust=True equals
    # the H-truncated form once the horizon covers the series)
    import pandas as pd_

    series = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0]
    df2 = spark.createDataFrame(
        [("w", i, v) for i, v in enumerate(series)],
        ["k", "seq", "value"])
    got = [r.ewma for r in
           ewma_smooth(df2, ["k"], ["seq"], "value", alpha=0.5,
                       horizon=8).orderBy("seq").collect()]
    want = pd_.Series(series).ewm(alpha=0.5, adjust=True).mean().tolist()
    assert got == pytest.approx(want)

    plan = (ewma_smooth(df, ["k"], ["seq"], "value")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan and plan.count("Exchange") == 1


def test_cohort_retention_hand_computed(spark):
    """r5 session 4: 2 daily cohorts; retention ratios and the
    offset-0 base are the hand-derived ones."""
    import datetime as dt

    from bigdata_spark_assignment_spark.operators.relational import (
        cohort_retention,
    )
    t = dt.datetime(2024, 1, 1)

    def at(day):
        return t + dt.timedelta(days=day)

    rows = [  # users a,b first seen day0; c first seen day1
        ("a", at(0)), ("a", at(1)), ("a", at(2)),
        ("b", at(0)), ("b", at(2)),
        ("c", at(1)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {(r.cohort_day, r.offset): (r.n_users, r.retention)
           for r in cohort_retention(df, "user_id", "ts").collect()}
    d0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days
    assert out[(d0, 0)] == (2, 1.0)
    assert out[(d0, 1)] == (1, 0.5)       # only a returns day 1
    assert out[(d0, 2)] == (2, 1.0)       # both return day 2
    assert out[(d0 + 1, 0)] == (1, 1.0)   # c's cohort
    assert len(out) == 4


def test_transition_matrix_row_stochastic(spark):
    """r5 session 4: hand-checked first-order transitions; rows are
    probability-normalized per source state and sequences never cross
    keys."""
    from bigdata_spark_assignment_spark.operators.relational import (
        transition_matrix,
    )
    rows = [("u", 1, "view"), ("u", 2, "click"), ("u", 3, "view"),
            ("u", 4, "click"), ("u", 5, "buy"),
            ("w", 1, "view"), ("w", 2, "view")]
    df = spark.createDataFrame(rows, ["k", "seq", "state"])
    out = {(r.from_state, r.to_state): (r.n, r.p)
           for r in transition_matrix(df, ["k"], ["seq"],
                                      "state").collect()}
    # view -> click twice, view -> view once (w); click -> view/buy
    assert out[("view", "click")] == (2, pytest.approx(2 / 3))
    assert out[("view", "view")] == (1, pytest.approx(1 / 3))
    assert out[("click", "view")] == (1, pytest.approx(0.5))
    assert out[("click", "buy")] == (1, pytest.approx(0.5))
    assert len(out) == 4
    # no cross-key transition (w's last 'view' -> u's first 'view')
    froms = {}
    for (f, _), (n, p) in out.items():
        froms[f] = froms.get(f, 0.0) + p
    assert all(abs(s - 1.0) < 1e-9 for s in froms.values())


def test_profile_table_hand_computed(spark):
    """r5 session 4: ANALYZE-style profile — null/distinct counts,
    NATIVE-type min/max (numeric 9 < 10 even though '9' > '10'),
    deterministic modal tie-break on the string value, and value
    truncation applied after aggregation."""
    from bigdata_spark_assignment_spark.operators.relational import (
        profile_table,
    )
    rows = [(9, "b", None), (10, "a", "x" * 40),
            (11, "a", "y"), (12, "b", None)]
    df = spark.createDataFrame(rows, ["num", "cat", "s"])
    out = {(r.column, r.stat): r.value
           for r in profile_table(df, value_len=24).collect()}
    assert out[("num", "n_nulls")] == "0"
    assert out[("s", "n_nulls")] == "2"
    assert out[("num", "n_distinct")] == "4"
    assert out[("cat", "n_distinct")] == "2"
    assert out[("num", "min")] == "9" and out[("num", "max")] == "12"
    # modal tie between 'a' and 'b' (2 each) -> min string wins
    assert out[("cat", "top_value")] == "a"
    assert out[("cat", "top_count")] == "2"
    # lexicographic: 'y' > 'xxxx…'; the 40-char min truncates to 24
    assert out[("s", "max")] == "y"
    assert out[("s", "min")] == "x" * 24
    assert len(out) == 18  # 3 cols x 6 stats


def test_pareto_frontier_hand_and_definitional(spark, sf_smoke):
    """r5 session 4: skyline — hand-checked frontier incl.
    duplicate-point collapse, then the quadratic NOT-EXISTS dominance
    DEFINITION cross-checked against the sweep on real sf0.001
    orders (the oracle uses the sweep form; this is the independent
    algorithm differential)."""
    from bigdata_spark_assignment_spark.io import load_table
    from bigdata_spark_assignment_spark.operators.relational import (
        pareto_frontier_2d,
    )
    rows = [  # (id, maximize, minimize)
        (1, 10.0, 5), (2, 10.0, 3), (3, 9.0, 3), (4, 9.0, 2),
        (5, 8.0, 2), (6, 8.0, 2), (7, 7.0, 1), (8, 1.0, 9),
        (9, 9.0, 2),
    ]
    df = spark.createDataFrame(rows, ["id", "mx", "mn"])
    got = {r.id for r in
           pareto_frontier_2d(df, "mx", "mn", "id").collect()}
    # 2 beats 1 (same mx, lower mn); 4 beats 3/5/6/9... no: 5/6 have
    # lower mx but equal mn -> dominated by 4; 9 duplicates 4 ->
    # collapses to min id 4; 7 survives (lowest mn); 8 dominated.
    assert got == {2, 4, 7}

    orders = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", "o_totalprice",
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long")
        .alias("d"))
    swept = {r.o_orderkey for r in
             pareto_frontier_2d(orders, "o_totalprice", "d",
                                "o_orderkey").collect()}
    rowsv = orders.collect()
    def dominated(r):
        return any(
            (s.o_totalprice > r.o_totalprice and s.d <= r.d)
            or (s.o_totalprice >= r.o_totalprice and s.d < r.d)
            or (s.o_totalprice == r.o_totalprice and s.d == r.d
                and s.o_orderkey < r.o_orderkey)
            for s in rowsv)
    definitional = {r.o_orderkey for r in rowsv if not dominated(r)}
    assert swept == definitional and swept


def test_cusum_changepoint_finds_planted_shift(spark):
    """r5 session 4: CUSUM — on a series with a mean shift at t=10 the
    peak |S_t| lands exactly at the last pre-shift point; per-key
    isolation and the stat value are hand-checkable."""
    from bigdata_spark_assignment_spark.operators.relational import (
        cusum_changepoint,
    )
    series = [0.0] * 10 + [5.0] * 10       # shift after index 9
    rows = [("u", i, v) for i, v in enumerate(series)]
    rows += [("w", i, float(i % 2)) for i in range(6)]  # no shift
    df = spark.createDataFrame(rows, ["k", "seq", "value"])
    out = {r.k: r for r in
           cusum_changepoint(df, ["k"], ["seq"], "value",
                             rank_decimals=4).collect()}
    # mean=2.5; S_t = -2.5*(t+1) for t<10, peaks at t=9 with |S|=25
    assert out["u"].seq == 9
    assert out["u"].cusum_stat == pytest.approx(25.0)
    assert out["u"].n_points == 20
    # the flat series peaks at its first point (tie-break on order)
    assert out["w"].n_points == 6

    plan = (cusum_changepoint(df, ["k"], ["seq"], "value")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan and plan.count("FileScan") == 0


def test_welch_ttest_hand_computed_and_guards(spark):
    """r5 session 4: Welch's t — checked against a pure-Python
    computation of the same formula; degenerate strata (n<=1 or zero
    variance on both arms) yield NULL t/dof instead of dividing by
    zero."""
    import statistics

    from bigdata_spark_assignment_spark.operators.relational import (
        welch_ttest,
    )
    a = [1.0, 2.0, 3.0, 4.0]
    b = [2.5, 3.5, 4.5]
    rows = ([("s", "a", v) for v in a] + [("s", "b", v) for v in b]
            + [("tiny", "a", 1.0), ("tiny", "b", 2.0)])
    df = spark.createDataFrame(rows, ["stratum", "variant", "value"])
    out = {r.stratum: r for r in
           welch_ttest(df, "variant", "value",
                       key_cols=["stratum"]).collect()}
    va, vb = statistics.variance(a), statistics.variance(b)
    ma, mb = statistics.mean(a), statistics.mean(b)
    se2 = va / len(a) + vb / len(b)
    t = (ma - mb) / se2 ** 0.5
    dof = se2 ** 2 / ((va / len(a)) ** 2 / (len(a) - 1)
                      + (vb / len(b)) ** 2 / (len(b) - 1))
    r = out["s"]
    assert (r.n_a, r.n_b) == (4, 3)
    assert r.mean_diff == pytest.approx(ma - mb)
    assert r.t_stat == pytest.approx(t)
    assert r.dof == pytest.approx(dof)
    # n=1 per arm -> guarded NULLs
    assert out["tiny"].t_stat is None and out["tiny"].dof is None

    plan = (welch_ttest(df, "variant", "value", key_cols=["stratum"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan  # one conditional-aggregate pass


def test_acf_hand_computed_and_guards(spark):
    """r5 session 5: sample ACF — numpy cross-check on a planted
    series, per-key isolation, NULL on constant series, and the
    two-exchange no-join plan (window sort + final group)."""
    import numpy as np

    from bigdata_spark_assignment_spark.operators.relational import acf

    series = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    rows = [("u", i, v) for i, v in enumerate(series)]
    rows += [("c", i, 7.0) for i in range(4)]  # constant → NULL r
    df = spark.createDataFrame(rows, ["k", "seq", "value"])
    out = {(r.k, r.lag): r for r in
           acf(df, ["k"], ["seq"], "value", max_lag=3).collect()}

    x = np.array(series)
    dev = x - x.mean()
    ss = float((dev * dev).sum())
    for j in (1, 2, 3):
        want = float((dev[j:] * dev[:-j]).sum()) / ss
        got = out[("u", j)]
        assert got.acf_r == pytest.approx(want)
        assert got.n_pairs == len(series) - j
        assert got.n_points == len(series)
    # statsmodels convention sanity: r_1 of an alternating series < 0
    alt = acf(spark.createDataFrame(
        [("a", i, float((-1) ** i)) for i in range(10)],
        ["k", "seq", "value"]), ["k"], ["seq"], "value", max_lag=1)
    assert alt.collect()[0].acf_r < -0.8

    for j in (1, 2, 3):
        assert out[("c", j)].acf_r is None  # 0/0 guarded

    plan = (acf(df, ["k"], ["seq"], "value", max_lag=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan and plan.count("Exchange") <= 2


def test_resample_interp_linear_tail_and_head(spark):
    """r5 session 5: linear-interpolation gap repair — interior gaps
    interpolate on the bucket index, trailing gaps carry forward,
    leading gaps stay NULL, occupied buckets keep exact sums, and both
    anchor windows share one sort (single exchange, no self-join)."""
    from pyspark.sql import functions as F

    from bigdata_spark_assignment_spark.operators.relational import (
        resample_interp,
    )
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10", 4.0),   # bucket 0
         (1, "2024-01-01 00:45:00", 10.0),  # bucket 3 (gaps at 1, 2)
         (2, "2024-01-01 00:30:00", 7.0)],  # key 2: head gaps, tail gap
        "user_id long, ts string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    iv = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:00:00")],
        "user_id long, w_start string") \
        .withColumn("w_start", F.col("w_start").cast("timestamp_ntz")) \
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 1 HOUR"))
    q = resample_interp(ev, iv, "ts", "value", ["user_id"],
                        step_seconds=900)
    out = {(r.user_id, r.bucket_idx): r for r in q.collect()}
    assert len(out) == 10
    k1 = [out[(1, i)] for i in range(5)]
    # 4 → 10 over 3 steps: interior gaps at 6.0 and 8.0
    assert [r.interp_sum for r in k1] == [4.0, 6.0, 8.0, 10.0, 10.0]
    assert [r.is_gap for r in k1] == [False, True, True, False, True]
    k2 = [out[(2, i)] for i in range(5)]
    assert [r.interp_sum for r in k2] == [None, None, 7.0, 7.0, 7.0]

    # both anchor frames (last-behind / first-ahead) fuse into ONE
    # Window operator over one key-partitioned sort in the final plan
    plan = (q._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Window [") == 1
    assert "unboundedpreceding" in plan and "unboundedfollowing" in plan


def test_mann_whitney_u_hand_computed_and_ties(spark):
    """r5 session 5: Mann-Whitney U — hand-checked U and tie-corrected
    z on a tied sample, per-stratum isolation, NULL z when all values
    tie, and a no-join one-window plan."""
    from bigdata_spark_assignment_spark.operators.relational import (
        mann_whitney_u,
    )
    rows = [("s", "a", 1.0), ("s", "a", 2.0),
            ("s", "b", 2.0), ("s", "b", 3.0),
            ("t", "a", 5.0), ("t", "a", 5.0), ("t", "b", 5.0)]
    df = spark.createDataFrame(rows, ["stratum", "variant", "value"])
    out = {r.stratum: r for r in
           mann_whitney_u(df, "variant", "value",
                          key_cols=["stratum"]).collect()}
    # ranks: 1→1, {2,2}→2.5, 3→4; R_a=3.5, U=0.5; T=6;
    # σ²=(4/12)((5)−6/12)=1.5; z=(0.5−2)/√1.5
    s = out["s"]
    assert (s.n_a, s.n_b) == (2, 2)
    assert s.u_stat == pytest.approx(0.5)
    assert s.z_stat == pytest.approx(-1.5 / 1.5 ** 0.5)
    assert out["t"].z_stat is None  # all tied → σ=0 → guarded NULL

    plan = (mann_whitney_u(df, "variant", "value",
                           key_cols=["stratum"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan


def test_anova_oneway_numpy_parity_and_guards(spark):
    """r7: one-way ANOVA — numpy closed-form parity on integer data
    (the exact-sufficient-statistics path), plus the degenerate
    guards (single group, zero within-variance)."""
    import numpy as np

    from bigdata_spark_assignment_spark.operators.relational import (
        anova_oneway,
    )
    rng = np.random.default_rng(3)
    groups = {g: rng.integers(10, 1000, size=50 + 13 * i)
              for i, g in enumerate("abc")}
    rows = [(g, int(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    out = anova_oneway(df, "v", "g").collect()[0]
    allv = np.concatenate(list(groups.values())).astype(float)
    gm = allv.mean()
    ssb = sum(len(v) * (v.mean() - gm) ** 2 for v in groups.values())
    ssw = sum(((v - v.mean()) ** 2).sum() for v in groups.values())
    k, n = len(groups), len(allv)
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    assert out.k == k and out.n == n
    assert out.ss_between == pytest.approx(ssb, rel=1e-9)
    assert out.ss_within == pytest.approx(ssw, rel=1e-9)
    assert out.f_stat == pytest.approx(f_ref, rel=1e-9)
    # guards: one group -> NULL F; constant values -> zero ssw -> NULL
    one = spark.createDataFrame([("a", 1), ("a", 5)], "g string, v long")
    assert anova_oneway(one, "v", "g").collect()[0].f_stat is None
    const = spark.createDataFrame(
        [("a", 3), ("a", 3), ("b", 7), ("b", 7)], "g string, v long")
    assert anova_oneway(const, "v", "g").collect()[0].f_stat is None


def test_bh_adjust_reference_implementation_and_nulls(spark):
    """r7: Benjamini-Hochberg — parity with an independent numpy
    step-up implementation, monotonicity of p_adj in rank, and NULL
    p pass-through."""
    import numpy as np

    from bigdata_spark_assignment_spark.operators.relational import (
        bh_adjust,
    )
    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205,
          0.212, 0.216, 0.222, 0.251, 0.269, 0.275, 0.34]
    rows = [(f"t{i:02d}", p) for i, p in enumerate(ps)] + [("tnull", None)]
    df = spark.createDataFrame(rows, "test string, p double")
    out = {r.test: r for r in
           bh_adjust(df, "p", alpha=0.05,
                     tiebreak_cols=["test"]).collect()}
    # independent reference: sorted ascending, p_adj = cummin from
    # the largest rank of m*p/rank, capped at 1
    m = len(ps)
    order = np.argsort(ps, kind="stable")
    adj_sorted = np.minimum.accumulate(
        (m * np.asarray(ps)[order]
         / np.arange(1, m + 1))[::-1])[::-1]
    adj_sorted = np.minimum(adj_sorted, 1.0)
    for rank0, idx in enumerate(order):
        r = out[f"t{idx:02d}"]
        assert r.bh_rank == rank0 + 1
        assert r.p_adj == pytest.approx(float(adj_sorted[rank0]))
        assert r.rejected == (adj_sorted[rank0] <= 0.05)
    # the classic property: raw-significant tests fail after
    # adjustment (p=0.008..0.042 are < alpha raw, but with m=15 only
    # p=0.001 survives the step-up: max k with p_(k) <= k*alpha/m
    # is k=1)
    assert out["t00"].rejected and not out["t01"].rejected
    assert not out["t04"].rejected
    # NULL pass-through
    assert out["tnull"].p_adj is None and out["tnull"].rejected is None
    adj = sorted((r.bh_rank, r.p_adj) for r in out.values()
                 if r.bh_rank is not None)
    assert all(a[1] <= b[1] for a, b in zip(adj, adj[1:]))  # monotone


def test_ks_test_hand_computed_and_numpy_parity(spark):
    """r6: two-sample KS — hand-checked D/λ/p on a small sample, a
    numpy-ECDF cross-check on a larger stratum, NULL outputs when an
    arm is empty, and a no-join one-window plan."""
    import math

    import numpy as np

    from bigdata_spark_assignment_spark.operators.relational import (
        ks_test,
    )
    rows = [("s", "a", 1.0), ("s", "a", 2.0), ("s", "a", 3.0),
            ("s", "b", 2.0), ("s", "b", 4.0),
            ("t", "a", 7.0), ("t", "a", 8.0)]
    rng = np.random.default_rng(7)
    xa = np.round(rng.normal(0.0, 1.0, 200), 3)
    xb = np.round(rng.normal(0.3, 1.4, 150), 3)
    rows += [("u", "a", float(v)) for v in xa]
    rows += [("u", "b", float(v)) for v in xb]
    df = spark.createDataFrame(rows, ["stratum", "variant", "value"])
    out = {r.stratum: r for r in
           ks_test(df, "variant", "value",
                   key_cols=["stratum"]).collect()}
    # s: ECDF gaps at pooled points 1,2,3,4 → 1/3, 1/6, 1/2, 0
    s = out["s"]
    assert (s.n_a, s.n_b) == (3, 2)
    assert s.d_stat == pytest.approx(0.5)
    lam = 0.5 * math.sqrt(6.0 / 5.0)
    assert s.ks_stat == pytest.approx(lam)
    assert s.p_approx == pytest.approx(
        min(1.0, 2.0 * math.exp(-2.0 * lam * lam)))
    # t: b arm empty → guarded NULLs, counts still reported
    t = out["t"]
    assert (t.n_a, t.n_b) == (2, 0)
    assert t.d_stat is None and t.ks_stat is None and t.p_approx is None
    # u: numpy reference — max ECDF gap over the pooled grid
    grid = np.union1d(xa, xb)
    d_ref = np.max(np.abs(
        np.searchsorted(np.sort(xa), grid, side="right") / len(xa)
        - np.searchsorted(np.sort(xb), grid, side="right") / len(xb)))
    assert out["u"].d_stat == pytest.approx(float(d_ref))

    plan = (ks_test(df, "variant", "value", key_cols=["stratum"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan


def test_chi2_independence_hand_computed_and_zero_cells(spark):
    """r5 session 5: chi-squared — hand-checked 2×2 statistic, and the
    zero-cell identity (χ² = n + Σ_obs((o−e)²/e − e)) verified against
    a dense-table reference on a table with an empty cell."""
    from bigdata_spark_assignment_spark.operators.relational import (
        chi2_independence,
    )
    rows = ([("r1", "c1")] * 10 + [("r1", "c2")] * 20
            + [("r2", "c1")] * 30 + [("r2", "c2")] * 40)
    df = spark.createDataFrame(rows, ["a", "b"])
    got = chi2_independence(df, "a", "b").collect()[0]
    want = (4 / 12 + 4 / 18 + 4 / 28 + 4 / 42)
    assert got.chi2 == pytest.approx(want)
    assert got.dof == 1 and got.n == 100

    # zero cell: (r2, c2) absent — dense reference includes e22 term
    rows2 = ([("r1", "c1")] * 5 + [("r1", "c2")] * 5
             + [("r2", "c1")] * 10)
    got2 = chi2_independence(
        spark.createDataFrame(rows2, ["a", "b"]), "a", "b").collect()[0]
    # totals: rows 10/10, cols 15/5, n=20 → e = [7.5, 2.5, 7.5, 2.5]
    want2 = ((5 - 7.5) ** 2 / 7.5 + (5 - 2.5) ** 2 / 2.5
             + (10 - 7.5) ** 2 / 7.5 + (0 - 2.5) ** 2 / 2.5)
    assert got2.chi2 == pytest.approx(want2)
    assert got2.n == 20


def test_equidepth_histogram_exact_and_atomic_ties(spark):
    """r5 session 5: equi-depth histogram — equal depths on a uniform
    sample, whole-value atomicity under a dominant tie group, NULL
    exclusion, and bucket stats."""
    from bigdata_spark_assignment_spark.operators.relational import (
        equidepth_histogram,
    )
    df = spark.createDataFrame([(float(i),) for i in range(100)],
                               "v double")
    out = sorted(equidepth_histogram(df, "v", n_buckets=4).collect())
    assert [r.n_rows for r in out] == [25, 25, 25, 25]
    assert [r.lo for r in out] == [0.0, 25.0, 50.0, 75.0]
    assert [r.hi for r in out] == [24.0, 49.0, 74.0, 99.0]

    # one value carries 90% of the mass: its whole count stays in ONE
    # bucket; other buckets absorb the rest
    rows = [(5.0,)] * 90 + [(float(i),) for i in range(10)]
    df2 = spark.createDataFrame(rows + [(None,)], "v double")
    out2 = sorted(equidepth_histogram(df2, "v", n_buckets=4).collect())
    assert sum(r.n_rows for r in out2) == 100  # NULL excluded
    heavy = [r for r in out2 if r.lo <= 5.0 <= r.hi]
    assert len(heavy) == 1 and heavy[0].n_rows >= 90


def test_target_encode_loo_hand_computed_and_fallbacks(spark):
    """r5 session 5: leave-one-out encoding — hand-checked values,
    singleton→global-prior fallback, null-target→group-mean, NULL
    category as its own group, and the no-join window plan."""
    from bigdata_spark_assignment_spark.operators.cleaning import (
        target_encode_loo,
    )
    rows = [("a", 10.0), ("a", 20.0), ("a", 30.0),
            ("b", 100.0),            # singleton → global mean
            (None, 1.0), (None, 3.0),
            ("a", None)]             # null target → group mean
    df = spark.createDataFrame(rows, "cat string, y double")
    out = target_encode_loo(df, "cat", "y").collect()
    gmean = (10 + 20 + 30 + 100 + 1 + 3) / 6
    got = {(r.cat, r.y): r.te for r in out}
    assert got[("a", 10.0)] == pytest.approx(25.0)   # (60-10)/2
    assert got[("a", 20.0)] == pytest.approx(20.0)
    assert got[("a", 30.0)] == pytest.approx(15.0)
    assert got[("b", 100.0)] == pytest.approx(gmean)
    assert got[(None, 1.0)] == pytest.approx(3.0)    # null-cat group
    assert got[("a", None)] == pytest.approx(20.0)   # group mean

    plan = (target_encode_loo(df, "cat", "y")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan


def test_seasonal_decompose_recovers_planted_pattern(spark):
    """r5 session 5: seasonal decomposition — on a series that is
    exactly trend + periodic pattern, the residual vanishes wherever
    the MA window is full; edges have NULL trend; additivity holds."""
    from bigdata_spark_assignment_spark.operators.relational import (
        seasonal_decompose,
    )
    season = [5.0, -3.0, 1.0, -1.0]          # period 4, ±2 MA window
    rows = [("u", i, 10.0 + season[i % 4]) for i in range(16)]
    df = spark.createDataFrame(rows, "k string, seq int, value double")
    out = {r.seq: r for r in
           seasonal_decompose(df, ["k"], ["seq"], "value",
                              period=4, half_window=2).collect()}
    assert out[0].trend is None and out[15].trend is None
    full = [r for r in out.values() if r.trend is not None]
    assert len(full) == 12
    # MA over ±2 of a period-4 signal is NOT flat (5-term window), but
    # the phase means absorb what the trend misses on this exact
    # trend+season series: residuals vanish in the interior
    interior = [out[i] for i in range(4, 12)]
    for r in interior:
        assert abs(r.resid) < 1e-6, (r.seq, r.resid)
    # additivity: value == trend + seasonal + resid wherever defined
    for r in full:
        assert r.value == pytest.approx(r.trend + r.seasonal + r.resid,
                                        abs=1e-6)
    # phases cycle positionally
    assert [out[i].phase for i in range(8)] == [0, 1, 2, 3, 0, 1, 2, 3]


def test_exact_percentiles_numpy_parity_and_ties(spark):
    """r5 session 5: exact interpolated percentiles — numpy 'linear'
    parity on random data with ties, per-key isolation, NULL
    exclusion."""
    import random

    import numpy as np

    from bigdata_spark_assignment_spark.operators.relational import (
        exact_percentiles,
    )
    rng = random.Random(11)
    vals_a = [round(rng.uniform(0, 100), 1) for _ in range(197)]
    vals_b = [5.0] * 10 + [1.0, 9.0]          # heavy ties
    rows = ([("a", v) for v in vals_a] + [("b", v) for v in vals_b]
            + [("a", None)])
    df = spark.createDataFrame(rows, "k string, v double")
    ps = [0.05, 0.5, 0.95]
    out = {(r.k, r.p): r.value for r in
           exact_percentiles(df, "v", ps, ["k"]).collect()}
    for k, vals in (("a", vals_a), ("b", vals_b)):
        for p in ps:
            want = float(np.percentile(vals, p * 100,
                                       method="linear"))
            assert out[(k, p)] == pytest.approx(want), (k, p)


def test_winsorize_caps_and_mean(spark):
    """Winsorization: caps clamp both tails, interior untouched,
    was_capped flags exactly the clamped rows."""
    from bigdata_spark_assignment_spark.operators.relational import (
        winsorize,
    )
    vals = [float(i) for i in range(1, 21)]     # 1..20
    df = spark.createDataFrame([("g", v) for v in vals],
                               "k string, v double")
    out = {r.v: r for r in
           winsorize(df, "v", 0.05, 0.95, ["k"]).collect()}
    # numpy linear: p05 of 1..20 = 1.95, p95 = 19.05
    assert out[1.0].lo_cap == pytest.approx(1.95)
    assert out[20.0].hi_cap == pytest.approx(19.05)
    assert out[1.0].winsorized == pytest.approx(1.95)
    assert out[20.0].winsorized == pytest.approx(19.05)
    assert out[10.0].winsorized == 10.0 and not out[10.0].was_capped
    assert out[1.0].was_capped and out[20.0].was_capped
    assert sum(1 for r in out.values() if r.was_capped) == 2


def test_winsorize_null_value_passes_through(spark):
    """ADVICE r5: greatest/least skip NULLs, so an unguarded clamp
    would fabricate lo_cap for a NULL value row — the documented
    contract is NULL in, NULL out (was_capped NULL too)."""
    from bigdata_spark_assignment_spark.operators.relational import (
        winsorize,
    )
    rows = [("g", float(i)) for i in range(1, 21)] + [("g", None)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = winsorize(df, "v", 0.05, 0.95, ["k"]).collect()
    null_rows = [r for r in out if r.v is None]
    assert len(null_rows) == 1
    assert null_rows[0].winsorized is None
    assert null_rows[0].was_capped is None
    # caps themselves ignore the NULL row (exact_percentiles filters)
    assert null_rows[0].lo_cap == pytest.approx(1.95)


def test_poisson_bootstrap_ci_properties(spark):
    """r5 session 5: Poisson bootstrap — deterministic across calls,
    CI brackets the observed diff on a clearly-separated sample, and
    weights follow the integer-threshold Poisson(1) inversion."""
    from bigdata_spark_assignment_spark.operators.relational import (
        POISSON1_THRESHOLDS,
        poisson_bootstrap_ci,
    )
    rows = ([(i, "a", 10.0 + (i % 7) * 0.1) for i in range(200)]
            + [(i + 1000, "b", 5.0 + (i % 5) * 0.1) for i in range(200)])
    df = spark.createDataFrame(rows, "id long, variant string, y double")
    r1 = poisson_bootstrap_ci(df, "id", "variant", "y",
                              n_boot=40).collect()[0]
    r2 = poisson_bootstrap_ci(df, "id", "variant", "y",
                              n_boot=40).collect()[0]
    assert (r1.ci_lo, r1.ci_hi, r1.diff_obs) == (r2.ci_lo, r2.ci_hi,
                                                 r2.diff_obs)
    assert r1.n_boot_effective == 40
    # true diff ~ 5.1; the CI must bracket the observed diff tightly
    assert r1.ci_lo < r1.diff_obs < r1.ci_hi
    assert 4.5 < r1.ci_lo and r1.ci_hi < 5.7
    # thresholds are a valid CDF grid for 32-bit hashes
    assert POISSON1_THRESHOLDS == sorted(POISSON1_THRESHOLDS)
    assert POISSON1_THRESHOLDS[-1] < 1 << 32


def test_gini_coefficient_known_values_and_guards(spark):
    """r5 session 5: Gini — 0 for perfect equality, the known value
    for one-holder concentration ((n-1)/n), numpy sorted-formula
    parity on random data with ties, and the guards (negative values,
    singleton, all-zero)."""
    import random

    import numpy as np

    from bigdata_spark_assignment_spark.operators.relational import (
        gini_coefficient,
    )
    rng = random.Random(5)
    vals = [float(rng.randint(0, 20)) for _ in range(157)]
    rows = ([("eq", 7.0)] * 10
            + [("one", 0.0)] * 9 + [("one", 100.0)]
            + [("rand", v) for v in vals]
            + [("neg", -1.0), ("neg", 5.0)]
            + [("single", 3.0)]
            + [("zero", 0.0), ("zero", 0.0)])
    df = spark.createDataFrame(rows, "k string, v double")
    out = {r.k: r for r in
           gini_coefficient(df, "v", ["k"]).collect()}
    assert out["eq"].gini == pytest.approx(0.0, abs=1e-12)
    assert out["one"].gini == pytest.approx(0.9)   # (n-1)/n, n=10
    x = np.sort(np.array(vals))
    n = len(x)
    want = float(2 * np.sum(np.arange(1, n + 1) * x) / (n * x.sum())
                 - (n + 1) / n)
    assert out["rand"].gini == pytest.approx(want)
    assert out["neg"].gini is None
    assert out["single"].gini is None
    assert out["zero"].gini is None


def test_covariance_matrix_numpy_parity_and_guards(spark):
    """r6: one-pass covariance/correlation matrix — numpy parity on
    every upper-triangle entry, listwise complete-case deletion,
    NULL corr for a constant column, and a no-join one-aggregate
    plan."""
    import numpy as np

    from bigdata_spark_assignment_spark.operators.relational import (
        covariance_matrix,
    )
    rng = np.random.default_rng(11)
    x = rng.normal(5.0, 2.0, 300)
    y = 0.5 * x + rng.normal(0.0, 1.0, 300)
    z = rng.uniform(0.0, 1.0, 300)
    rows = [(float(a), float(b), float(c), 1.0)
            for a, b, c in zip(x, y, z)]
    rows.append((None, 1.0, 1.0, 1.0))   # listwise-dropped
    df = spark.createDataFrame(rows, ["x", "y", "z", "k"])
    out = {(r.col_a, r.col_b): r for r in
           covariance_matrix(df, ["x", "y", "z", "k"]).collect()}
    assert len(out) == 10
    mat = np.stack([x, y, z, np.ones(300)])
    cov_ref = np.cov(mat, bias=True)
    names = ["x", "y", "z", "k"]
    for i, a in enumerate(names):
        for j in range(i, len(names)):
            r = out[(a, names[j])]
            assert r.n == 300  # the NULL row is dropped everywhere
            assert r.cov_pop == pytest.approx(cov_ref[i, j], abs=1e-9)
    assert out[("x", "y")].corr == pytest.approx(
        float(np.corrcoef(x, y)[0, 1]))
    assert out[("x", "x")].corr == pytest.approx(1.0)
    # constant column: zero variance -> guarded NULL corr, zero cov
    r = out[("x", "k")]
    assert r.cov_pop == pytest.approx(0.0, abs=1e-9)
    assert r.corr is None
    plan = (covariance_matrix(df, ["x", "y"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan


def test_covariance_matrix_exact_int_path_partition_invariant(spark):
    """r7 (q07 cmat flake): integral inputs take the DECIMAL(38,0)
    exact-sum path, so the derived doubles are BIT-identical at any
    partition count — the property the double-sum path cannot give.
    Also pins numpy parity for the integer stats."""
    import numpy as np

    from bigdata_spark_assignment_spark.operators.relational import (
        covariance_matrix,
    )
    rng = np.random.default_rng(7)
    # magnitudes chosen so sums cross 2^53: the double-sum path would
    # be order-dependent here, the decimal path cannot be
    x = rng.integers(1, 10_000_000, 5000)
    y = x // 3 + rng.integers(0, 1_000_000, 5000)
    rows = [(int(a), int(b)) for a, b in zip(x, y)]
    df = spark.createDataFrame(rows, "x long, y long")
    runs = []
    for parts in (1, 7, 32):
        out = {(r.col_a, r.col_b): (r.cov_pop, r.corr)
               for r in covariance_matrix(
                   df.repartition(parts), ["x", "y"]).collect()}
        runs.append(out)
    assert runs[0] == runs[1] == runs[2]  # bit-exact, no approx
    cov_ref = np.cov(np.stack([x, y]).astype(float), bias=True)
    assert runs[0][("x", "y")][0] == pytest.approx(cov_ref[0, 1])
    assert runs[0][("x", "y")][1] == pytest.approx(
        float(np.corrcoef(x, y)[0, 1]))


def test_snapshot_diff_hand_computed_and_null_changes(spark):
    """r6: snapshot diff — hand-counted add/remove/change/unchanged
    buckets, null-safe per-column change counts (value→NULL counts as
    a change), and the identity diff is all-unchanged."""
    from bigdata_spark_assignment_spark.operators.relational import (
        snapshot_diff,
    )
    old = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"),
         (4, None, "d")],
        ["k", "price", "status"])
    new = spark.createDataFrame(
        [(1, 10.0, "a"),        # unchanged
         (2, 25.0, "b"),        # price changed
         (4, 40.0, None),       # NULL→40 price, 'd'→NULL status
         (5, 50.0, "e")],       # added; key 3 removed
        ["k", "price", "status"])
    out = {(r.metric, r.column): r.n for r in
           snapshot_diff(old, new, ["k"],
                         ["price", "status"]).collect()}
    assert out[("rows_added", None)] == 1
    assert out[("rows_removed", None)] == 1
    assert out[("rows_changed", None)] == 2
    assert out[("rows_unchanged", None)] == 1
    assert out[("col_changed", "price")] == 2   # k=2 and k=4
    assert out[("col_changed", "status")] == 1  # k=4
    ident = {(r.metric, r.column): r.n for r in
             snapshot_diff(old, old, ["k"],
                           ["price", "status"]).collect()}
    assert ident[("rows_unchanged", None)] == 4
    assert all(v == 0 for (m, _), v in ident.items()
               if m != "rows_unchanged")


def test_sequence_pair_support_hand_computed(spark):
    """r6: ordered 2-sequence support — the min(a) < max(b) reduction
    counts exactly the users with some a-event before some b-event."""
    from bigdata_spark_assignment_spark.operators.relational import (
        sequence_pair_support,
    )
    rows = [
        # u1: view@1, click@2 -> supports view->click only
        (1, 1.0, "view"), (1, 2.0, "click"),
        # u2: click@1, view@2, click@3 -> supports BOTH directions
        (2, 1.0, "click"), (2, 2.0, "view"), (2, 3.0, "click"),
        # u3: only views -> supports nothing
        (3, 1.0, "view"), (3, 2.0, "view"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {(r.type_a, r.type_b): r for r in
           sequence_pair_support(df, "user_id", "ts",
                                 "event_type").collect()}
    assert out[("view", "click")].n_users == 2      # u1, u2
    assert out[("click", "view")].n_users == 1      # u2
    assert out[("view", "click")].support == pytest.approx(2 / 3)


def test_target_encode_m_hand_computed_and_shrinkage(spark):
    """r6: m-estimate encoding — hand-checked shrinkage toward the
    prior, all-null group degrades to the prior exactly, and rare
    categories sit closer to the prior than frequent ones."""
    from bigdata_spark_assignment_spark.operators.cleaning import (
        target_encode_m,
    )
    rows = ([("big", 10.0)] * 8 + [("rare", 100.0)]
            + [("dead", None), ("dead", None)])
    df = spark.createDataFrame(rows, ["c", "y"])
    prior = (8 * 10.0 + 100.0) / 9
    out = {r.c: r.te for r in
           target_encode_m(df, "c", "y", m=2.0).collect()}
    assert out["big"] == pytest.approx((80.0 + 2 * prior) / 10)
    assert out["rare"] == pytest.approx((100.0 + 2 * prior) / 3)
    assert out["dead"] == pytest.approx(prior)
    # shrinkage: the rare estimate moved farther toward the prior
    assert abs(out["rare"] - prior) < abs(100.0 - prior)
    assert abs(out["big"] - 10.0) < abs(out["rare"] - 100.0)


def test_quantile_normalize_hand_computed_and_null_group(spark):
    """r7: step-convention quantile normalization — (a) hand-computed
    mapping onto the global distribution (k = ceil(cum_g*N/n_g),
    global value at position k, duplicates kept); (b) a NULL category
    is its own group and keeps its rows through the map-back join;
    (c) the max of every group maps to the global max."""
    from bigdata_spark_assignment_spark.operators.cleaning import (
        quantile_normalize,
    )
    rows = [("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", 4.0),
            ("B", 10.0), ("B", 20.0), (None, 5.0), (None, 5.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = quantile_normalize(df, ["g"], "v").collect()
    got = sorted(((r.g or "~"), r.v, r.qn_value) for r in out)
    # global sorted: [1,2,3,4,5,5,10,20], N=8
    # A (n=4): cums 1..4 -> k = 2,4,6,8 -> 2,4,5,20
    # B (n=2): cums 1,2 -> k = 4,8 -> 4,20
    # NULL (n=2): both v=5 share cum=2 -> k=8 -> 20,20
    assert got == [("A", 1.0, 2.0), ("A", 2.0, 4.0), ("A", 3.0, 5.0),
                   ("A", 4.0, 20.0), ("B", 10.0, 4.0),
                   ("B", 20.0, 20.0), ("~", 5.0, 20.0),
                   ("~", 5.0, 20.0)]
    assert len(out) == len(rows)  # no rows lost to the join


def test_cuped_estimate_numpy_parity_and_guards(spark):
    """CUPED readouts vs a direct numpy computation, plus the
    degenerate var(X)=0 and one-arm guards."""
    import numpy as np

    from bigdata_spark_assignment_spark.operators.relational import (
        cuped_estimate,
    )

    rng = np.random.RandomState(7)
    x = rng.randint(100, 2000, size=60)
    y = x + rng.randint(-50, 300, size=60)
    variant = np.where(np.arange(60) % 2 == 0, "a", "b")
    df = spark.createDataFrame(
        [(str(variant[i]), int(x[i]), int(y[i])) for i in range(60)],
        "variant string, xq long, yq long")
    got = cuped_estimate(df).collect()[0]

    theta = np.cov(x, y, bias=True)[0, 1] / np.var(x)
    assert abs(got["theta"] - theta) < 1e-9
    raw = y[variant == "a"].mean() - y[variant == "b"].mean()
    assert abs(got["raw_effect"] - raw) < 1e-9
    adj = raw - theta * (x[variant == "a"].mean()
                         - x[variant == "b"].mean())
    assert abs(got["adj_effect"] - adj) < 1e-9
    # identity: var_adj equals the variance of the adjusted values
    y_adj = y - theta * (x - x.mean())
    assert abs(got["var_adj"] - np.var(y_adj)) < 1e-6
    assert 0.0 <= got["var_reduction_pct"] <= 100.0
    # strong pre/post correlation here -> real reduction
    assert got["var_reduction_pct"] > 50.0

    # var(X) = 0 -> theta/adj/var_adj/reduction all NULL
    const = spark.createDataFrame(
        [("a", 5, 10), ("b", 5, 20), ("a", 5, 12)],
        "variant string, xq long, yq long")
    g = cuped_estimate(const).collect()[0]
    assert g["theta"] is None and g["adj_effect"] is None
    assert g["var_adj"] is None and g["var_reduction_pct"] is None
    assert g["raw_effect"] is not None

    # one-arm input -> raw/adj NULL, counts still real
    one = spark.createDataFrame([("a", 1, 2), ("a", 3, 4)],
                                "variant string, xq long, yq long")
    g1 = cuped_estimate(one).collect()[0]
    assert g1["n_b"] == 0 and g1["raw_effect"] is None


def test_diff_in_diff_hand_computed(spark):
    from bigdata_spark_assignment_spark.operators.relational import (
        diff_in_diff,
    )

    rows = [
        # variant, is_post, vq     cell means: a_pre 10, a_post 30,
        ("a", False, 10), ("a", False, 10),  # b_pre 20, b_post 25
        ("a", True, 20), ("a", True, 40),
        ("b", False, 15), ("b", False, 25),
        ("b", True, 25),
    ]
    df = spark.createDataFrame(rows, "variant string, is_post boolean, vq long")
    g = diff_in_diff(df).collect()[0]
    assert g["n_pre"] == 4 and g["n_post"] == 3
    assert g["mean_a_pre"] == 10.0 and g["mean_a_post"] == 30.0
    assert g["mean_b_pre"] == 20.0 and g["mean_b_post"] == 25.0
    assert g["pre_diff"] == -10.0 and g["post_diff"] == 5.0
    assert g["did"] == (30.0 - 10.0) - (25.0 - 20.0)

    # empty cell -> NULL estimate, counts intact
    df2 = spark.createDataFrame(rows[:4], "variant string, is_post boolean, vq long")
    g2 = diff_in_diff(df2).collect()[0]
    assert g2["did"] is None and g2["n_pre"] == 2


def test_post_stratified_effect_hand_computed(spark):
    from bigdata_spark_assignment_spark.operators.relational import (
        post_stratified_effect,
    )

    rows = [
        # stratum s1: a mean 20, b mean 10 -> diff 10, n_s 4
        ("s1", "a", 15), ("s1", "a", 25), ("s1", "b", 5), ("s1", "b", 15),
        # stratum s2: a mean 100, b mean 90 -> diff 10, n_s 3
        ("s2", "a", 100), ("s2", "b", 80), ("s2", "b", 100),
        # stratum s3: one-sided -> excluded entirely
        ("s3", "a", 999),
    ]
    df = spark.createDataFrame(rows, "stratum string, variant string, vq long")
    g = post_stratified_effect(df, "stratum", micro=100).collect()[0]
    assert g["n_strata"] == 2
    assert g["n_events"] == 7
    # both strata diff 10 -> dq 1000 each; effect_q = 1000*4 + 1000*3
    assert g["effect_q"] == 7000
    # estimate in vq units: 7000 / 7 / 100 = 10
    assert g["effect_q"] / g["n_events"] / 100 == 10.0


def test_psi_drift_identical_and_shifted_groups(spark):
    """A group distributed like the reference has PSI ≈ 0 (exactly the
    smoothing residue); a concentrated group has a large PSI; numpy
    re-derivation matches the nano-quantized sum."""
    import math

    from bigdata_spark_assignment_spark.operators.relational import (
        psi_drift,
    )

    # values 0..9, 10 rows each; g1 mirrors the global mix, g2 is
    # concentrated on values 0..1
    rows = ([(v, "g1") for v in range(10) for _ in range(10)]
            + [(v, "g2") for v in (0, 1) for _ in range(50)])
    df = spark.createDataFrame(rows, "v long, g string")
    out = {r["g"]: r for r in
           psi_drift(df, "v", "g", n_bins=10).collect()}

    assert out["g1"]["n_g"] == 100 and out["g2"]["n_g"] == 100
    n_b = out["g1"]["n_bins_used"]
    assert n_b == out["g2"]["n_bins_used"]

    # numpy mirror of the operator's exact construction
    import collections
    c_v = collections.Counter(v for v, _ in rows)
    vals = sorted(c_v)
    total = sum(c_v.values())
    cum = 0
    bucket_of = {}
    for v in vals:
        bucket_of[v] = min(int((cum * 10) / total), 9)
        cum += c_v[v]
    buckets = sorted(set(bucket_of.values()))
    assert n_b == len(buckets)

    def psi_nano(group):
        cg = collections.Counter(v for v, g in rows if g == group)
        n_g = sum(cg.values())
        s = 0
        for b in buckets:
            c_b = sum(c for v, c in c_v.items() if bucket_of[v] == b)
            c_sb = sum(c for v, c in cg.items() if bucket_of[v] == b)
            a = (c_sb + 0.5) / (n_g + 0.5 * len(buckets))
            e = (c_b + 0.5) / (total + 0.5 * len(buckets))
            s += round((a - e) * math.log(a / e) * 1e9)
        return s

    assert out["g1"]["psi_nano"] == psi_nano("g1")
    assert out["g2"]["psi_nano"] == psi_nano("g2")
    # qualitative: the global reference is the g1+g2 MIXTURE, so the
    # uniform group drifts moderately and the concentrated group more
    assert out["g2"]["psi_nano"] > out["g1"]["psi_nano"] > 0

    # groups distributed identically to each other (hence to the
    # global mixture) have a/e shares that cancel EXACTLY under
    # add-half smoothing: PSI is integer zero
    same = spark.createDataFrame(
        [(v, g) for v in range(5) for g in ("p", "q") for _ in range(4)],
        "v long, g string")
    for r in psi_drift(same, "v", "g", n_bins=5).collect():
        assert r["psi_nano"] == 0, r
