"""Relational core queries (SURVEY.md §2.1-2.5, M0/M1).

Covers the reference's relational surface as named, oracle-checked
queries over the driver tables: projection/drop (P1/P6,
``Main.scala:96-97``), SQL-string & column predicates (P2-P5,
``Main.scala:104,113,303``), casts & derived date arithmetic (P9-P12,
``Main.scala:220,284``), conditional expressions (P10,
``Main.scala:285``), inner equi-join incl. broadcast (J1,
``Main.scala:136``), group-by aggregation (A1/A2, ``Main.scala:133``),
distinct-count with null-as-a-group semantics (A3,
``Main.scala:133,192``), Pearson correlation (A4,
``Main.scala:229-247``), union-by-name (S5 intent,
``Main.scala:70-76``), random split (P14, ``Main.scala:434``).

100 TB notes per query are in the individual docstrings; the common
themes: dimension joins are explicitly broadcast, fact-fact joins are
plain equi-joins so AQE can pick sort-merge + skew splitting, every
aggregate is a hash agg with map-side partials, and all filters are
native column predicates (no UDFs) so they push into the parquet scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io import load_table, union_all
from ..operators.relational import distinct_count_expr
from .registry import fround, register


@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 4)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)  AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 4)                                        AS avg_disc,
           CAST(COUNT(*) AS BIGINT)                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("flagship", "scan", "filter", "agg", "sort"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary (scan→filter→agg→sort).

    100 TB notes: filter + 7-column projection push into the parquet
    scan; the groupBy key has 6 groups so partial aggregation collapses
    virtually all rows map-side before the single shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fround(F.sum("l_quantity")).alias("sum_qty"),
            fround(F.sum("l_extendedprice")).alias("sum_base_price"),
            fround(F.sum(disc_price)).alias("sum_disc_price"),
            fround(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            fround(F.avg("l_quantity")).alias("avg_qty"),
            fround(F.avg("l_extendedprice")).alias("avg_price"),
            fround(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q02_filter_project_cast",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           ROUND(o_totalprice, 4) AS o_totalprice,
           CAST(year(o_orderdate)  AS INTEGER) AS o_year,
           CAST(month(o_orderdate) AS INTEGER) AS o_month,
           CAST(GREATEST(2026 - year(o_orderdate), 0) AS INTEGER) AS order_age_years,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
           CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 250000 THEN 'mid'
                ELSE 'high' END AS price_band
    FROM orders
    WHERE o_orderstatus <> 'O' AND o_totalprice > 50000.0
    """,
    tags=("filter", "project", "cast", "dates", "conditional"),
)
def filter_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan→filter→project→derive chain (P2-P12 in one query; merged
    r1 q02+q03 so both fit the driver's checked prefix).

    SQL-string predicate + Column predicate (both compile to the same
    pushed filter; ``Main.scala:104,113``), casts and date extraction
    (``Main.scala:220,284``), and the reference's PlaneAge pattern:
    ``greatest(anchor_year - year(date_col), 0)`` — derived-year
    subtraction clamped at zero (``Main.scala:284-285``).

    100 TB notes: both predicates and the column projection reach the
    parquet scan (PushedFilters / ReadSchema); every derived column is
    a native expression inside one whole-stage-codegen span.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter("o_orderstatus <> 'O'")
        .filter(F.col("o_totalprice") > 50000.0)
        .select(
            "o_orderkey", "o_orderstatus",
            fround(F.col("o_totalprice")).alias("o_totalprice"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.month("o_orderdate").cast("int").alias("o_month"),
            F.greatest(F.lit(2026) - F.year("o_orderdate"), F.lit(0))
             .cast("int").alias("order_age_years"),
            F.floor("o_totalprice").alias("price_floor"),
            F.when(F.col("o_totalprice") < 100000, "low")
             .when(F.col("o_totalprice") < 250000, "mid")
             .otherwise("high").alias("price_band"),
        )
    )


@register(
    "q04_join_broadcast_dims",
    oracle="""
    SELECT r_name,
           CAST(COUNT(*) AS BIGINT)   AS n_customers,
           ROUND(SUM(c_acctbal), 4)   AS total_acctbal,
           ROUND(AVG(c_acctbal), 4)   AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("join", "broadcast", "agg"),
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake dimension join with explicit broadcast (J1 scaled up;
    reference joins a 5k-row plane dim at ``Main.scala:136``).

    100 TB notes: nation (25 rows) and region (5 rows) are broadcast so
    the fact side never shuffles for the join; the only shuffle is the
    final 5-group aggregation, which partial-aggregates map-side.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer
        .join(F.broadcast(nation),
              customer.c_nationkey == nation.n_nationkey, "inner")
        .join(F.broadcast(region),
              nation.n_regionkey == region.r_regionkey, "inner")
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            fround(F.sum("c_acctbal")).alias("total_acctbal"),
            fround(F.avg("c_acctbal")).alias("avg_acctbal"),
        )
    )


@register(
    "q05_join_fact_fact",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(COUNT(*) AS BIGINT)                          AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY o_orderpriority
    """,
    tags=("join", "agg"),
)
def join_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join + aggregation.

    100 TB notes: no broadcast hint — at scale both sides are large, so
    the right plan is a shuffled join on the join key with AQE skew
    splitting; at test scale AQE will demote it to broadcast on its
    own. The date filter pushes below the join into the orders scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        .groupBy("o_orderpriority")
        .agg(
            fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
             .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q06_agg_distinct_suite",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM (SELECT DISTINCT o_orderpriority FROM orders))  AS BIGINT) AS n_priorities,
      CAST((SELECT COUNT(*) FROM (SELECT DISTINCT c_mktsegment    FROM customer)) AS BIGINT) AS n_segments,
      CAST((SELECT COUNT(*) FROM (SELECT DISTINCT NULLIF(o_orderstatus, 'P') FROM orders)) AS BIGINT) AS n_status_with_null,
      CAST((SELECT COUNT(*) FROM (SELECT DISTINCT p_partkey     FROM part)) AS BIGINT) AS p_partkey,
      CAST((SELECT COUNT(*) FROM (SELECT DISTINCT p_name        FROM part)) AS BIGINT) AS p_name,
      CAST((SELECT COUNT(*) FROM (SELECT DISTINCT p_brand       FROM part)) AS BIGINT) AS p_brand,
      CAST((SELECT COUNT(*) FROM (SELECT DISTINCT p_type        FROM part)) AS BIGINT) AS p_type,
      CAST((SELECT COUNT(*) FROM (SELECT DISTINCT p_size        FROM part)) AS BIGINT) AS p_size,
      CAST((SELECT COUNT(*) FROM (SELECT DISTINCT p_retailprice FROM part)) AS BIGINT) AS p_retailprice,
      CAST(1 AS BIGINT) AS const_col,
      CAST(1 AS BIGINT) AS all_null_col,
      CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)           AS n_rows,
      (SELECT ROUND(SUM(l_quantity), 4) FROM lineitem)          AS sum_qty,
      (SELECT ROUND(AVG(l_extendedprice), 4) FROM lineitem)     AS avg_price,
      (SELECT ROUND(MIN(l_extendedprice), 4) FROM lineitem)     AS min_price,
      (SELECT ROUND(MAX(l_extendedprice), 4) FROM lineitem)     AS max_price,
      CAST((SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS BIGINT) AS n_parts
    """,
    tags=("agg", "distinct"),
)
def agg_distinct_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count where NULL counts as a value (A3), the P15
    every-column single-pass form, and the global (no-group)
    multi-measure aggregate incl. exact distinct (merged r1 q06+q15 and
    r2 q09 so all three fit the driver's checked prefix; one combined
    1-row result via broadcast scalar joins).

    The reference's idiom is ``groupBy(c).count().groupBy(c).count()
    .count()`` (``Main.scala:133,192``) — two shuffles per column, and
    unlike ``count_distinct`` it counts NULL as a group. Our operator
    (``operators.relational.distinct_count_expr``) keeps the
    null-as-a-group semantics in ONE pass; ``nullif`` manufactures a
    NULL to prove the semantics differ from COUNT(DISTINCT). The
    part-table block is the P15 constant-column-prune decision input
    (``Main.scala:184-208``): distinct counts of EVERY column in one
    aggregation — a constant column and an all-null column must both
    report 1.
    """
    from ..operators.cleaning import distinct_counts

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    orders_agg = orders.agg(
        distinct_count_expr(F.col("o_orderpriority")).alias("n_priorities"),
        distinct_count_expr(
            F.nullif(F.col("o_orderstatus"), F.lit("P"))
        ).alias("n_status_with_null"),
    )
    cust_agg = customer.agg(
        distinct_count_expr(F.col("c_mktsegment")).alias("n_segments"))
    part_widened = (part
                    .withColumn("const_col", F.lit("x"))
                    .withColumn("all_null_col", F.lit(None).cast("string")))
    global_agg = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        fround(F.sum("l_quantity")).alias("sum_qty"),
        fround(F.avg("l_extendedprice")).alias("avg_price"),
        fround(F.min("l_extendedprice")).alias("min_price"),
        fround(F.max("l_extendedprice")).alias("max_price"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    return (orders_agg.crossJoin(cust_agg)
            .crossJoin(distinct_counts(part_widened))
            .crossJoin(global_agg))


# q07 `cmat`: upper-triangle covariance/correlation matrix legs, one
# per pair, generated so engine and oracle agree on pair naming.
#
# r6 postmortem: the first cmat oracle compared our closed-form
# double-sum covariance against DuckDB's Welford-style covar_pop,
# both rounded to 4 dp — two DIFFERENT summation algorithms whose ulp
# gap is partition-order- and host-dependent, so a value sitting near
# a .00005 boundary flipped the driver hash on the driver host while
# staying green locally (CORRECTNESS_r06 q07). r7 fix: quantize each
# measure to its native fixed-point grid per row (prices are cents,
# discount/tax/quantity are 1/100ths — ROUND(x*100) is deterministic
# and identical in both engines), sum the sufficient statistics
# EXACTLY (Spark DECIMAL(38,0), DuckDB HUGEINT), and derive cov/corr
# with the SAME double expression tree on both sides. Identical
# exact integer stats → bit-identical doubles → ROUND can never
# disagree, at any parallelism, on any host. Reported units are the
# original ones (quantity, price-in-thousands, discount, tax): the
# integer-grid covariance is divided by the pair's scale product.
_CMAT_COLS = ("l_quantity", "l_price_k", "l_discount", "l_tax")
_CMAT_SRC = {"l_quantity": "l_quantity", "l_price_k": "l_extendedprice",
             "l_discount": "l_discount", "l_tax": "l_tax"}
# per-row quantizer: int = ROUND(src * quant). Price is quantized to
# whole DOLLARS (quant 1, not cents): the largest cross-product sum,
# SUM(price_i²) ≈ 1.1e10·rows, must stay below 2^53 at the checked
# scales so the exact integer→double cast is itself exact in both
# engines — cents put it past 2^63 at sf0.1, where DuckDB's
# HUGEINT→double two-word conversion double-rounds 1 ulp off Java's
# correctly-rounded BigDecimal path (measured, r7). The ±$0.5
# rounding noise perturbs the reported covariances ~1e-7 — far
# inside the 4-dp grid.
_CMAT_QUANT = {"l_quantity": 100, "l_price_k": 1,
               "l_discount": 100, "l_tax": 100}
# integer-grid units per ORIGINAL unit: price_k is priced in
# thousands, so one price_k unit = 1000 dollar-grid units
_CMAT_SCALE = {"l_quantity": 100.0, "l_price_k": 1000.0,
               "l_discount": 100.0, "l_tax": 100.0}


# q07 rounding-grid metadata: decimals per (part, column) readout —
# consumed by the grid-distance lint (tests/test_grid_distance.py),
# which runs the UNROUNDED oracle (_q07_oracle(rounded=False)) at all
# three driver scales and asserts every readout sits far from its
# ROUND boundary. m3 of `conformal` is an exact integer (n_cal) and
# carries no entry.
Q07_GRID_DECIMALS: dict[tuple[str, str], int] = {
    **{("corr", m): 4 for m in ("m1", "m2", "m3")},
    ("ols", "m1"): 3, ("ols", "m2"): 3, ("ols", "m3"): 4,
    ("udaf", "m1"): 4, ("udaf", "m2"): 4,
    ("cmat", "m1"): 4, ("cmat", "m2"): 4,
    **{("spearman", m): 4 for m in ("m1", "m2", "m3")},
    ("conformal", "m1"): 4, ("conformal", "m2"): 4,
}


def _q07_oracle(rounded: bool = True) -> str:
    """The full q07 oracle, generated from the same column/quantizer
    tables the engine uses so pair naming, quantization, and every
    closed-form expression tree cannot drift between the two sides.

    ``rounded=False`` emits the same query with every final ROUND
    stripped (quantizer ROUNDs are kept — they are semantics, not
    presentation) — the grid-distance lint runs that variant to
    measure how far each readout sits from its rounding boundary.

    Determinism design (r8, closing the two-round q07 hash red): every
    leg is derived from EXACT integer sufficient statistics over ONE
    quantized projection (CTE ``q07b``), then combined in a fixed
    DOUBLE expression tree mirrored verbatim by the engine. Exact
    integer stats → bit-identical doubles at any parallelism on any
    host; the only remaining cross-engine freedom is the final
    LN/EXP ulp (udaf leg), which the grid lint bounds.
    """
    def R(expr: str, k: int = 4) -> str:
        # Signed zero (the r6-r8 driver red): DuckDB's ROUND preserves
        # IEEE -0.0 (this leg's cmat l_discount~l_tax covariance is a
        # tiny negative that rounds to -0.0 at sf0.01) while Spark's
        # F.round goes through BigDecimal and lands on +0.0. Python ==
        # calls them equal; the driver's value hash does not. The
        # normalization ("+ 0.0", since -0.0 + 0.0 = +0.0) is applied
        # mechanically to EVERY oracle ROUND at registration —
        # registry._plus_zero — so no individual generator can
        # reintroduce the class.
        return f"ROUND({expr}, {k})" if rounded else f"({expr})"

    q_cols = ",\n             ".join(
        f"CAST(ROUND({_CMAT_SRC[c]} * {_CMAT_QUANT[c]}) AS BIGINT) AS {c}"
        for c in _CMAT_COLS)
    not_null = " AND ".join(
        f"{_CMAT_SRC[c]} IS NOT NULL" for c in _CMAT_COLS)
    base = f"""q07b AS (
      SELECT l_returnflag AS grp,
             {q_cols},
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
             (CAST(('0x' || substring(md5('cf:'
                  || CAST(l_orderkey AS VARCHAR) || ':'
                  || CAST(l_linenumber AS VARCHAR)), 1, 8))
               AS BIGINT) % 4) AS fold
      FROM lineitem
      WHERE {not_null})"""

    stats = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    stats += [f"CAST(SUM({c}) AS DOUBLE) AS s_{c}" for c in _CMAT_COLS]
    stats += [f"CAST(SUM({a} * {b}) AS DOUBLE) AS p_{a}_{b}"
              for i, a in enumerate(_CMAT_COLS) for b in _CMAT_COLS[i:]]
    cmat_s = f"""cmat_s AS (
      SELECT {', '.join(stats)}
      FROM q07b)"""

    def cov(a: str, b: str) -> str:
        # mirrors operators.relational.covariance_matrix._cov exactly:
        # (p_ab - s_a*s_b/n)/n, evaluated in DOUBLE
        return f"((p_{a}_{b} - s_{a} * s_{b} / n) / n)"

    def corr_expr(a: str, b: str) -> str:
        return f"{cov(a, b)} / SQRT({cov(a, a)} * {cov(b, b)})"

    cmat_legs = []
    for i, a in enumerate(_CMAT_COLS):
        for b in _CMAT_COLS[i:]:
            scale = _CMAT_SCALE[a] * _CMAT_SCALE[b]
            cmat_legs.append(f"""SELECT 'cmat', '{a}~{b}',
           {R(f"{cov(a, b)} / {scale!r}")},
           {R(corr_expr(a, b))},
           CAST(NULL AS DOUBLE)
    FROM cmat_s""")
    cmat_sql = "\n    UNION ALL\n    ".join(cmat_legs)

    # corr: the same three pairs the r1 leg computed with raw-double
    # F.corr — now read off cmat_s's exact integer statistics (the
    # r7-verdict one-line reuse), so the readout shares cmat's
    # bit-parity guarantee instead of comparing two engines' one-pass
    # double corr algorithms.
    corr_sql = f"""SELECT 'corr' AS part, CAST(NULL AS VARCHAR) AS grp,
           {R(corr_expr('l_quantity', 'l_price_k'))} AS m1,
           {R(corr_expr('l_discount', 'l_tax'))} AS m2,
           {R(corr_expr('l_price_k', 'l_tax'))} AS m3
    FROM cmat_s"""

    # ols: grouped closed-form fit from exact integer sums over the
    # quantized grid (x = quantity hundredths, y = whole dollars —
    # the conformal leg's proven headroom); slope reported per
    # ORIGINAL quantity unit (×100).
    ols_sql = f"""SELECT 'ols', g.grp, {R('g.m1', 3)}, {R('g.m2', 3)},
           {R('g.m3')}
    FROM (
      WITH os AS (
        SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(l_quantity) AS DOUBLE) AS sx,
               CAST(SUM(l_price_k) AS DOUBLE) AS sy,
               CAST(SUM(l_quantity * l_price_k) AS DOUBLE) AS sxy,
               CAST(SUM(l_quantity * l_quantity) AS DOUBLE) AS sxx,
               CAST(SUM(l_price_k * l_price_k) AS DOUBLE) AS syy
        FROM q07b GROUP BY grp),
      od AS (
        SELECT grp, n, sx, sy,
               n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS den,
               n * syy - sy * sy AS deny
        FROM os)
      SELECT grp,
             CASE WHEN den <> 0 THEN (num / den) * 100 END AS m1,
             CASE WHEN den <> 0 THEN (sy - (num / den) * sx) / n END
               AS m2,
             CASE WHEN den <> 0 AND deny <> 0
                  THEN (num * num) / (den * deny) END AS m3
      FROM od) g"""

    # udaf: geometric mean on the exact log-grid — per row, ln of the
    # quantized integer is itself quantized to 1e-9 nats and summed as
    # an exact BIGINT, so the sum is order-invariant in both engines;
    # one LN/EXP ulp moves the readout ~1e-12 (grid lint bounds it).
    def geomean(col: str) -> str:
        return (f"EXP(CAST(SUM(CAST(ROUND(LN({col}) * 1e9) AS BIGINT))"
                f" AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e9)) / 100")

    udaf_sql = f"""SELECT 'udaf', grp,
           {R(geomean('pc'))},
           {R(geomean('l_quantity'))},
           CAST(NULL AS DOUBLE)
    FROM q07b GROUP BY grp"""

    # spearman: doubled average ranks over the quantized domains are
    # exact BIGINTs; rank sums and rank-product sums stay exact
    # integers (HUGEINT here, DECIMAL in the engine) and convert to
    # double correctly rounded while < 2^63 (N ≲ 1.9e6 — all compared
    # scales); the closed form then combines them in the engine's
    # exact expression tree.
    rank_ctes = []
    for tag, col in (("q", "l_quantity"), ("p", "pc"),
                     ("d", "l_discount"), ("t", "l_tax")):
        rank_ctes.append(
            f"c{tag} AS (SELECT {col} AS v, COUNT(*) AS n "
            f"FROM q07b GROUP BY 1),\n"
            f"      r{tag} AS (SELECT v, 2 * COALESCE(SUM(n) OVER (ORDER BY v\n"
            f"                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)\n"
            f"                 + n + 1 AS r FROM c{tag})")

    def rho(x: str, y: str) -> str:
        return (f"(s.N * s.s{x}{y} - s.s{x} * s.s{y})"
                f" / SQRT((s.N * s.s{x}{x} - s.s{x} * s.s{x})"
                f" * (s.N * s.s{y}{y} - s.s{y} * s.s{y}))")

    spearman_sql = f"""SELECT 'spearman', NULL,
           {R(rho('q', 'p'))},
           {R(rho('d', 't'))},
           {R(rho('p', 't'))}
    FROM (
      WITH {','.join(rank_ctes)},
      j AS (
        SELECT rq.r AS xq, rp.r AS xp, rd.r AS xd, rt.r AS xt
        FROM q07b b
        JOIN rq ON b.l_quantity = rq.v JOIN rp ON b.pc = rp.v
        JOIN rd ON b.l_discount = rd.v JOIN rt ON b.l_tax = rt.v)
      SELECT CAST(COUNT(*) AS DOUBLE) AS N,
             CAST(SUM(xq) AS DOUBLE) AS sq, CAST(SUM(xp) AS DOUBLE) AS sp,
             CAST(SUM(xd) AS DOUBLE) AS sd, CAST(SUM(xt) AS DOUBLE) AS st,
             CAST(SUM(xq * xq) AS DOUBLE) AS sqq,
             CAST(SUM(xp * xp) AS DOUBLE) AS spp,
             CAST(SUM(xd * xd) AS DOUBLE) AS sdd,
             CAST(SUM(xt * xt) AS DOUBLE) AS stt,
             CAST(SUM(xq * xp) AS DOUBLE) AS sqp,
             CAST(SUM(xd * xt) AS DOUBLE) AS sdt,
             CAST(SUM(xp * xt) AS DOUBLE) AS spt
      FROM j) s"""

    # conformal: unchanged construction (already exact: integer fold
    # split, closed-form fit from exact sums, order-statistic q̂,
    # exact-count coverage) — now reading the shared q07b projection.
    conformal_sql = f"""SELECT 'conformal', g.grp, {R('g.qhat')},
           {R('g.coverage')}, CAST(g.n_cal AS DOUBLE)
    FROM (
      WITH cb AS (
        SELECT grp, l_quantity AS x, l_price_k AS y, fold FROM q07b),
      ctr AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_train,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx
        FROM cb WHERE fold <= 1 GROUP BY 1),
      cfit AS (
        SELECT grp, n_train, sx, sy,
               CASE WHEN n_train >= 2
                     AND CAST(n_train AS DOUBLE) * sxx - sx * sx <> 0
                    THEN (CAST(n_train AS DOUBLE) * sxy - sx * sy)
                         / (CAST(n_train AS DOUBLE) * sxx - sx * sx)
               END AS b1
        FROM ctr),
      cfit2 AS (
        SELECT grp, n_train, b1,
               (sy - b1 * sx) / CAST(n_train AS DOUBLE) AS b0
        FROM cfit),
      ccal AS (
        SELECT cb.grp, ABS(cb.y - (f.b0 + f.b1 * cb.x)) AS r
        FROM cb JOIN cfit2 f USING (grp)
        WHERE cb.fold = 2 AND f.b1 IS NOT NULL),
      crc AS (SELECT grp, r, CAST(COUNT(*) AS BIGINT) AS c
              FROM ccal GROUP BY 1, 2),
      ccum AS (
        SELECT grp, r,
               SUM(c) OVER (PARTITION BY grp ORDER BY r
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               SUM(c) OVER (PARTITION BY grp) AS n_cal
        FROM crc),
      cq AS (
        SELECT grp, CAST(MAX(n_cal) AS BIGINT) AS n_cal,
               MIN(CASE WHEN cum >= CAST(CEIL((n_cal + 1) * 0.9)
                                        AS BIGINT)
                        THEN r END) AS qhat
        FROM ccum GROUP BY 1),
      cts AS (
        SELECT cb.grp, CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN ABS(cb.y - (f.b0 + f.b1 * cb.x))
                                  <= q.qhat
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
        FROM cb JOIN cfit2 f USING (grp) JOIN cq q USING (grp)
        WHERE cb.fold = 3 GROUP BY 1)
      SELECT f.grp, q.qhat,
             CASE WHEN t.n_test > 0 THEN t.n_cov / t.n_test END
               AS coverage,
             COALESCE(q.n_cal, 0) AS n_cal
      FROM cfit2 f
      LEFT JOIN cq q USING (grp)
      LEFT JOIN cts t USING (grp)) g"""

    return f"""
    WITH {base},
    {cmat_s}
    {corr_sql}
    UNION ALL
    {ols_sql}
    UNION ALL
    {udaf_sql}
    UNION ALL
    {cmat_sql}
    UNION ALL
    {spearman_sql}
    UNION ALL
    {conformal_sql}
    """


@register(
    "q07_correlation",
    oracle=_q07_oracle(),
    tags=("agg", "statistics", "ml", "grouped", "udaf", "matrix",
          "rank", "conformal"),
    parts=("corr", "ols", "udaf", "cmat", "spearman", "conformal"),
)
def correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics suite (A4 + grouped model fitting), tagged parts.

    r8 restructure (the two-round driver q07 hash red): ONE persisted
    quantized projection (``base``: the cmat integer grids + price
    cents + the conformal fold hash — one lineitem scan for the whole
    slot) feeds every leg, and every leg is a fixed DOUBLE closed form
    over EXACT integer sufficient statistics, mirrored verbatim by the
    oracle (``_q07_oracle``). No leg's value depends on partition
    count, combine order, thread count, or host; the rounding-grid
    distances are linted at all three scales
    (tests/test_grid_distance.py).

    * ``corr`` — Pearson correlation of the three r1 pairs
      (qty~price, disc~tax, price~tax), read off the SAME exact
      int64 sufficient statistics the ``cmat`` leg aggregates
      (operators.relational.covariance_matrix) — one multi-aggregate
      pass where the reference runs 28 separate ``df.stat.corr`` jobs
      (``Main.scala:229-247``).
    * ``ols`` — MODEL-PER-KEY: one OLS fit (price ~ quantity) per
      l_returnflag group with ``applyInPandas`` — the grouped-ML
      pattern per-row SQL cannot express. The fit itself is the exact
      closed form over int64 sums of the quantized grid (x = quantity
      hundredths, y = whole dollars), so the grouped-Python fit and
      the oracle's independent SQL algebra produce bit-identical
      doubles. (m1, m2, m3) = slope per original qty unit, intercept
      dollars, R².
    * ``cmat`` — full covariance/correlation MATRIX of four measures
      from one sufficient-statistics aggregate
      (operators.relational.covariance_matrix), upper triangle
      exploded long; inputs quantized to native fixed-point grids so
      the int64 stats are exact in both engines (see _CMAT_COLS
      comments). (grp, m1, m2) = pair, cov_pop, corr.
    * ``spearman`` — rank correlation over the same three pairs
      (operators.relational.spearman_correlations): average-rank tie
      handling on the QUANTIZED domains; doubled ranks are exact
      integers, rank sums exact DECIMAL (engine) / HUGEINT (oracle),
      both converting to double correctly rounded below 2^63
      (N ≲ 1.9e6 — every compared scale).
    * ``conformal`` — split-conformal prediction intervals around the
      per-returnflag OLS (operators.regression.split_conformal_ols):
      md5 fold split, q̂ = ⌈(n_cal+1)·0.9⌉-th smallest calibration
      |residual| (order statistic), coverage an exact-count ratio.
      (grp, m1, m2, m3) = returnflag, q̂ dollars, coverage, n_cal.
    * ``udaf`` — a CUSTOM Arrow-batched grouped aggregate (SURVEY
      §2.8 "UDAF" surface): per-group geometric mean of price and
      quantity on the exact log-grid — each row contributes
      ROUND(LN(grid_int)·1e9) as an int64, summed exactly, so the
      aggregate is order-invariant and the only cross-engine freedom
      is the final LN/EXP ulp (~1e-12 of the readout; grid-linted).
      Scale honesty: grouped-agg pandas UDAFs do NO map-side partial
      aggregation — every raw row shuffles to its group; an algebraic
      aggregate like this ships as native expressions in production.
      (m1, m2, m3) = geomean(price), geomean(quantity), NULL.

    100 TB notes: the persisted base is a narrow integer projection
    (7 columns) — at cluster scale it hash-partitions by nothing and
    simply caches the scan; every leg is one partial-aggregated pass
    over it except ols/udaf, whose applyInPandas groups are bounded
    by returnflag cardinality (salt or fit-from-stats for giant
    groups — exactly the closed form the oracle uses).
    """
    import pandas as pd

    from ..operators.regression import split_conformal_ols
    from ..operators.relational import (covariance_matrix,
                                        spearman_correlations)

    li = load_table(spark, sf_dir, "lineitem")
    cf_hash = F.conv(F.substring(
        F.md5(F.concat(F.lit("cf:"), F.col("l_orderkey").cast("string"),
                       F.lit(":"), F.col("l_linenumber").cast("string"))),
        1, 8), 16, 10).cast("long")
    src_cols = sorted({_CMAT_SRC[c] for c in _CMAT_COLS})
    # fan out BEFORE the quantize/md5 projection: the one-row-group
    # testdata scan is a single task, and a projection written below
    # the repartition fuses into that scan stage — measured 3.5s of
    # single-core md5 work; raw-rows-first, project-above-exchange
    # runs it 32-way (and a 1-partition cache would run every leg's
    # partial aggregation single-core — the io.fanout_cache note).
    # size-gated (r9, per the r8 audit): an unconditional repartition
    # would full-shuffle the projected fact table at cluster scale,
    # where the scan already fans out naturally — scan_fanout no-ops
    # whenever planned partitions >= parallelism.
    from ..operators.dedup import _track_persist
    from ..io import scan_fanout

    raw = scan_fanout(
        li.na.drop(subset=src_cols)
          .select("l_returnflag", "l_orderkey", "l_linenumber",
                  *src_cols))
    base = _track_persist(
        raw.select(
            "l_returnflag",
            *[F.round(F.col(_CMAT_SRC[c]) * _CMAT_QUANT[c])
               .cast("bigint").alias(c) for c in _CMAT_COLS],
            F.round(F.col("l_extendedprice") * 100)
             .cast("bigint").alias("pc"),
            (cf_hash % 4).alias("fold")))

    # cmat + corr: one covariance_matrix subtree (exact int64 stats —
    # quantized inputs select the integral fast path), consumed twice:
    # exploded long for cmat, pivoted to the three r1 pairs for corr.
    cm = covariance_matrix(base.select(*_CMAT_COLS), list(_CMAT_COLS))
    scale_map = F.create_map(*[
        x for c in _CMAT_COLS for x in (F.lit(c), F.lit(_CMAT_SCALE[c]))])
    cmat = (cm.select(F.lit("cmat").alias("part"),
                      F.concat_ws("~", "col_a", "col_b").alias("grp"),
                      fround(F.col("cov_pop")
                             / (scale_map[F.col("col_a")]
                                * scale_map[F.col("col_b")])).alias("m1"),
                      fround(F.col("corr")).alias("m2"),
                      F.lit(None).cast("double").alias("m3")))

    def _pair(a: str, b: str) -> Column:
        return F.max(F.when((F.col("col_a") == a) & (F.col("col_b") == b),
                            F.col("corr")))

    corr = cm.agg(
        F.lit("corr").alias("part"),
        F.lit(None).cast("string").alias("grp"),
        fround(_pair("l_quantity", "l_price_k")).alias("m1"),
        fround(_pair("l_discount", "l_tax")).alias("m2"),
        fround(_pair("l_price_k", "l_tax")).alias("m3"))

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        import pandas as _pd
        # exact int64 sums of the quantized grid (bounds: per-element
        # products <= 5.2e8, per-group sums <= ~8e14 at sf1 — far
        # inside int64), then the oracle's DOUBLE tree verbatim: each
        # int->double conversion and each arithmetic op rounds once,
        # identically in both engines.
        x = pdf["l_quantity"].to_numpy(dtype=np.int64)
        y = pdf["l_price_k"].to_numpy(dtype=np.int64)
        nf = float(len(x))
        sx = float(int(x.sum())); sy = float(int(y.sum()))
        sxy = float(int((x * y).sum())); sxx = float(int((x * x).sum()))
        syy = float(int((y * y).sum()))
        num = nf * sxy - sx * sy
        den = nf * sxx - sx * sx
        deny = nf * syy - sy * sy
        if den == 0.0:
            m1 = m2 = m3 = None
        else:
            slope_g = num / den
            m1 = slope_g * 100
            m2 = (sy - slope_g * sx) / nf
            m3 = (num * num) / (den * deny) if deny != 0.0 else None
        return _pd.DataFrame({
            "grp": [pdf["l_returnflag"].iloc[0]],
            "m1": [m1], "m2": [m2], "m3": [m3]})

    ols = (base.select("l_returnflag", "l_quantity", "l_price_k")
           .groupBy("l_returnflag")
           .applyInPandas(_fit, "grp string, m1 double, m2 double, m3 double")
           .select(F.lit("ols").alias("part"), "grp",
                   fround(F.col("m1"), 3).alias("m1"),
                   fround(F.col("m2"), 3).alias("m2"),
                   fround(F.col("m3")).alias("m3")))

    from pyspark.sql.functions import pandas_udf

    def _geomean_grid(v):
        import numpy as np
        a = v.to_numpy(dtype=np.float64)
        # exact log-grid: ln of each (positive) grid integer quantized
        # to 1e-9 nats and summed as int64 (<= ~1e17 at sf1 per
        # group); sum order cannot matter. The oracle mirrors
        # ROUND(LN(v)*1e9) — a 1-ulp LN disagreement flips one grid
        # unit, moving the mean by ~1e-16 relative: harmless.
        units = np.round(np.log(a) * 1e9).astype(np.int64)
        total = int(units.sum())
        return float(np.exp(total / (len(a) * 1e9)))

    _geomean_grid.__annotations__ = {"v": pd.Series, "return": float}
    geomean = pandas_udf(_geomean_grid, "double")
    udaf = (base.groupBy("l_returnflag")
            .agg(geomean("pc").alias("g1"),
                 geomean("l_quantity").alias("g2"))
            .select(F.lit("udaf").alias("part"),
                    F.col("l_returnflag").alias("grp"),
                    fround(F.col("g1") / 100).alias("m1"),
                    fround(F.col("g2") / 100).alias("m2"),
                    F.lit(None).cast("double").alias("m3")))

    sp_pairs = [("l_quantity", "pc"), ("l_discount", "l_tax"),
                ("pc", "l_tax")]
    sp = spearman_correlations(base, sp_pairs)
    pk = F.concat_ws("~", "x_col", "y_col")
    spearman = sp.agg(
        F.lit("spearman").alias("part"),
        F.lit(None).cast("string").alias("grp"),
        fround(F.max(F.when(
            pk == "l_quantity~pc", F.col("rho")))).alias("m1"),
        fround(F.max(F.when(
            pk == "l_discount~l_tax", F.col("rho")))).alias("m2"),
        fround(F.max(F.when(
            pk == "pc~l_tax", F.col("rho")))).alias("m3"))

    # base's fold is already hf % 4; the operator's internal % 4 is
    # the identity on {0,1,2,3}
    conformal = (split_conformal_ols(base, "l_returnflag", "l_quantity",
                                     "l_price_k", "fold", alpha=0.1)
                 .select(F.lit("conformal").alias("part"),
                         F.col("group").alias("grp"),
                         fround(F.col("qhat")).alias("m1"),
                         fround(F.col("coverage")).alias("m2"),
                         F.col("n_cal").cast("double").alias("m3")))
    return (corr.unionByName(ols).unionByName(udaf)
            .unionByName(cmat).unionByName(spearman)
            .unionByName(conformal))


@register(
    "q08_union_by_name",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 4) AS total
    FROM (
      SELECT * FROM orders WHERE o_totalprice > 200000.0
      UNION ALL
      SELECT * FROM orders WHERE o_totalprice <= 200000.0 AND o_orderstatus = 'F'
    )
    GROUP BY o_orderstatus
    """,
    tags=("setops", "agg"),
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-input concatenation, the S5 *intent* (``Main.scala:70-76``
    rebinds instead of unioning — we implement the documented union).
    """
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 200000.0)
    lo_f = orders.filter((F.col("o_totalprice") <= 200000.0)
                         & (F.col("o_orderstatus") == "F"))
    return (
        union_all([hi, lo_f])
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"),
             fround(F.sum("o_totalprice")).alias("total"))
    )


@register(
    "q10_topk_orders",
    oracle="""
    SELECT * FROM (
      SELECT 'topk' AS part, o_orderkey,
             ROUND(o_totalprice, 4) AS o_totalprice, o_orderpriority,
             CAST(NULL AS BIGINT) AS d
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 25)
    UNION ALL
    -- r5 session 4: 2-D Pareto frontier (max price, min orderdate) —
    -- the sort-based sweep re-derived as a running-min window;
    -- the quadratic NOT-EXISTS dominance definition is pinned against
    -- this operator in pytest at sf0.001
    SELECT 'pareto', o_orderkey, ROUND(o_totalprice, 4),
           o_orderpriority, d
    FROM (
      SELECT o_orderkey, o_totalprice, o_orderpriority, d,
             MIN(d) OVER (ORDER BY o_totalprice DESC, d ASC,
                          o_orderkey ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pm
      FROM (SELECT *, date_diff('day', DATE '1970-01-01',
                                o_orderdate) AS d
            FROM orders))
    WHERE pm IS NULL OR d < pm
    UNION ALL
    -- r5 session 5: Gini revenue concentration per priority
    -- (operators.relational.gini_coefficient) — rank-weighted sum
    -- read off the distinct-value table (tie block at exclusive
    -- position p contributes v·(c·p + c(c+1)/2)), no data sort
    SELECT 'gini', CAST(g.n AS BIGINT), ROUND(g.gini, 4), g.prio,
           CAST(NULL AS BIGINT)
    FROM (
      WITH vc AS (
        SELECT o_orderpriority AS prio, o_totalprice AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2),
      pos AS (
        SELECT prio, v, c,
               SUM(c) OVER (PARTITION BY prio ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - c AS p
        FROM vc)
      -- mirror the engine's degenerate-group guard
      -- (operators/relational.py gini_coefficient): any negative
      -- value, a singleton group, or a non-positive total => NULL
      SELECT prio, SUM(c) AS n,
             CASE WHEN SUM(CASE WHEN v < 0 THEN 1 ELSE 0 END) = 0
                       AND SUM(c) > 1 AND SUM(v * c) > 0
                  THEN 2.0 * SUM(v * (c * p + c * (c + 1) / 2.0))
                         / (SUM(c) * SUM(v * c))
                       - (SUM(c) + 1) / SUM(c)
             END AS gini
      FROM pos GROUP BY 1) g
    """,
    tags=("sort", "limit", "skyline", "gini"),
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference queries over orders, tagged:

    * ``topk`` — global top-25 by value with a deterministic
      tie-break. ``orderBy().limit(k)`` compiles to
      TakeOrderedAndProject — each partition keeps its local top-k,
      only k rows per partition reach the driver-side merge. No full
      sort, no full shuffle.
    * ``pareto`` — r5 session 4: the 2-D Pareto frontier
      (operators.relational.pareto_frontier_2d): orders maximizing
      price while minimizing order date ("biggest-earliest"), via the
      distributive local-prune → global-sweep plan. d carries the
      epoch-day of the minimized dimension.
    * ``gini`` — r5 session 5: Gini revenue concentration per
      priority (operators.relational.gini_coefficient): the
      rank-weighted sum reads off the distinct-value table (tie
      block at exclusive position p contributes v·(c·p + c(c+1)/2))
      — no data sort, the exact-percentiles shape. o_orderkey
      carries n, o_totalprice the rounded coefficient.
    """
    orders = load_table(spark, sf_dir, "orders")
    topk = (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select(F.lit("topk").alias("part"), "o_orderkey",
                fround(F.col("o_totalprice")).alias("o_totalprice"),
                "o_orderpriority",
                F.lit(None).cast("long").alias("d"))
    )

    from ..operators.relational import pareto_frontier_2d

    days = orders.withColumn(
        "d", F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
             .cast("long"))
    pareto = (pareto_frontier_2d(days, "o_totalprice", "d", "o_orderkey")
              .select(F.lit("pareto").alias("part"), "o_orderkey",
                      fround(F.col("o_totalprice")).alias("o_totalprice"),
                      "o_orderpriority", "d"))

    from ..operators.relational import gini_coefficient

    gini = (gini_coefficient(orders, "o_totalprice",
                             ["o_orderpriority"])
            .select(F.lit("gini").alias("part"),
                    F.col("n_rows").alias("o_orderkey"),
                    fround(F.col("gini")).alias("o_totalprice"),
                    "o_orderpriority",
                    F.lit(None).cast("long").alias("d")))
    return topk.unionByName(pareto).unionByName(gini)


@register(
    "q50_salted_join_hot_keys",
    oracle="""
    SELECT 'join' AS part, o.o_orderstatus AS k,
           CAST(COUNT(*) AS DOUBLE) AS v1,
           ROUND(SUM(l.l_extendedprice), 4) AS v2
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    UNION ALL
    SELECT 'diag', CAST(l_orderkey AS VARCHAR), CAST(cnt AS DOUBLE),
           ROUND(share, 6)
    FROM (
      SELECT l_orderkey, COUNT(*) AS cnt,
             COUNT(*) * 1.0 / (SELECT COUNT(*) FROM lineitem) AS share
      FROM lineitem GROUP BY l_orderkey
      ORDER BY cnt DESC, l_orderkey LIMIT 3)
    UNION ALL
    -- r5 session 5: grid-blocked radius join
    -- (operators.spatial.radius_neighbor_stats) — synthetic integer
    -- planar points from the shared md5 derivation; the oracle is the
    -- brute-force O(n^2) distance join the grid plan must equal
    SELECT 'radius', CAST(p.id AS VARCHAR),
           CAST(COALESCE(s.n, 0) AS DOUBLE), CAST(s.mind AS DOUBLE)
    FROM (
      SELECT event_id AS id,
             CAST(('0x' || substring(md5('x:' ||
               CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 AS x,
             CAST(('0x' || substring(md5('y:' ||
               CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 AS y
      FROM events WHERE event_id % 4 = 0) p
    LEFT JOIN (
      SELECT a.id AS id, CAST(COUNT(*) AS BIGINT) AS n,
             MIN((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)) AS mind
      FROM (
        SELECT event_id AS id,
               CAST(('0x' || substring(md5('x:' ||
                 CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 1000 AS x,
               CAST(('0x' || substring(md5('y:' ||
                 CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 1000 AS y
        FROM events WHERE event_id % 4 = 0) a
      JOIN (
        SELECT event_id AS id,
               CAST(('0x' || substring(md5('x:' ||
                 CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 1000 AS x,
               CAST(('0x' || substring(md5('y:' ||
                 CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 1000 AS y
        FROM events WHERE event_id % 4 = 0) b
        ON a.id <> b.id
       AND (a.x - b.x) * (a.x - b.x)
           + (a.y - b.y) * (a.y - b.y) <= 625
      GROUP BY a.id) s ON p.id = s.id
    """,
    tags=("join", "skew", "diagnostics", "spatial"),
)
def salted_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew suite (SURVEY.md §4.3), tagged parts:

    * ``join`` — skew-resistant TARGETED salted join (operators.skew.
      salted_join with ``hot_keys``): the measured hottest keys fan
      out over (key, salt) partitions and only their dim rows
      replicate — row-identical to the plain join, which is exactly
      what the oracle asserts. Blanket salting (also supported,
      pytest-covered) replicates the whole dim ×salt; the r5 sf1
      record showed that salt·|dim| shuffle term dominating this
      query, so the registered configuration is the one a 100 TB run
      would use: measure → salt the measured keys only.
    * ``diag`` — the skew DIAGNOSIS that decides between plain join /
      AQE / salting (operators.skew.key_skew_stats): the 3 hottest
      join keys with row counts and table share, oracle-recomputed.
      Here its output FEEDS the join part's hot list (as a DataFrame —
      no driver collect).
    * ``radius`` — r5 session 5: grid-blocked radius join
      (operators.spatial.radius_neighbor_stats, r=25 on an integer
      plane whose side is EXACTLY 1000 at every driver-checked scale
      and grows as sqrt(points) beyond — r6: a scaled-up corpus
      covers more area at constant density; densifying a fixed plane
      grows candidate pairs quadratically and measures a different
      physical regime, as the first r6 sf1 run showed at 162.7s):
      every point explodes to its 3×3 cell
      neighborhood, the equi-join on cell keys generates each pair
      via exactly one offset, and the exact integer dist² ≤ r² verify
      runs in codegen — shuffle O(9n) on cell keys vs the oracle's
      O(n²) brute-force distance join, which it must (and does)
      equal row-for-row. Points derive from the shared md5 machinery
      so both engines see identical coordinates.
    """
    from ..operators.skew import key_skew_stats, salted_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders") \
        .withColumnRenamed("o_orderkey", "l_orderkey")
    hot = key_skew_stats(li, "l_orderkey", top_n=3).select("l_orderkey")
    joined = salted_join(li, orders, "l_orderkey", salt=8, hot_keys=hot)
    join_part = (joined.groupBy("o_orderstatus")
                 .agg(F.count(F.lit(1)).cast("double").alias("v1"),
                      fround(F.sum("l_extendedprice")).alias("v2"))
                 .select(F.lit("join").alias("part"),
                         F.col("o_orderstatus").alias("k"), "v1", "v2"))
    diag_part = key_skew_stats(li, "l_orderkey", top_n=3).select(
        F.lit("diag").alias("part"),
        F.col("l_orderkey").cast("string").alias("k"),
        F.col("n_rows").cast("double").alias("v1"),
        F.round("share", 6).alias("v2"))

    radius_part = q50_radius_leg(spark, sf_dir)
    return join_part.unionByName(diag_part).unionByName(radius_part)


def q50_radius_leg(spark: SparkSession, sf_dir: str,
                   side: int | None = None) -> DataFrame:
    """q50's grid-blocked radius-join leg, factored out so
    tools/scale_runs.py can time it in isolation and under a FORCED
    plane side (the r10 q50-density experiment — VERDICT r9 #5).

    Density-preserving plane: a real 10× corpus covers more AREA at
    the same point density — densifying a fixed plane instead makes
    candidate pairs grow quadratically and measures a different
    physical regime (the r6 sf1 run read 49.7× exactly this way).
    side stays EXACTLY 1000 at every driver-checked scale (points ≤
    150k, where the oracle's `% 1000` literal applies) and grows as
    sqrt(points) beyond — metadata-only count, the q43 precedent.
    reference density: sf0.1's 25k points on the 1000x1000 plane.
    n_pts is the every-4th-event slice ≈ rows/4 — derived from the
    UNFILTERED row count (parquet-footer metadata, no scan; the r7
    bench audit caught the filtered count paying a full eager scan
    per invocation). side is a density knob, not semantics: the
    oracle's `% 1000` literal applies wherever n_pts ≤ 150k, and a
    ±1 wobble in the quarter-count can't move max(1000, √·) there.
    """
    from ..operators.spatial import radius_neighbor_stats

    ev = load_table(spark, sf_dir, "events")
    if side is None:
        n_pts = ev.count() / 4.0
        side = max(1000, int(1000 * math.sqrt(n_pts / 25_000.0)))

    def coord(salt: str):
        return F.conv(F.substring(
            F.md5(F.concat(F.lit(salt),
                           F.col("event_id").cast("string"))),
            1, 8), 16, 10).cast("long") % side

    pts = (ev.filter(F.col("event_id") % 4 == 0)
           .select(F.col("event_id").alias("id"),
                   coord("x:").alias("x"), coord("y:").alias("y")))
    return (radius_neighbor_stats(pts, "id", "x", "y", radius=25)
            .select(F.lit("radius").alias("part"),
                    F.col("id").cast("string").alias("k"),
                    F.col("n_neighbors").cast("double")
                    .alias("v1"),
                    F.col("min_dist2").cast("double")
                    .alias("v2")))


@register(
    "q58_tpch_suite",
    oracle="""
    SELECT 'q3' AS part, l_orderkey AS k,
           o_orderpriority AS s1, CAST(NULL AS VARCHAR) AS s2,
           revenue AS v1, CAST(NULL AS DOUBLE) AS v2, o_orderdate AS d
    FROM (
      SELECT l.l_orderkey,
             ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
             o.o_orderdate, o.o_orderpriority
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-03-15'
        AND l.l_shipdate > TIMESTAMP '1998-03-15'
      GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10)
    UNION ALL
    SELECT 'q10', c_custkey, c_name, n_name, revenue,
           CAST(n_items AS DOUBLE), CAST(NULL AS TIMESTAMP)
    FROM (
      SELECT c.c_custkey, c.c_name, n.n_name,
             ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_items
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, c_custkey
      LIMIT 20)
    UNION ALL
    -- r5: TPC-H Q5 (local supplier volume) — the 6-table join with the
    -- customer-and-supplier-same-nation constraint
    SELECT 'q5', n_nationkey, n_name, CAST(NULL AS VARCHAR),
           revenue, CAST(n_items AS DOUBLE), CAST(NULL AS TIMESTAMP)
    FROM (
      SELECT n.n_nationkey, n.n_name,
             ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_items
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
                     AND c.c_nationkey = s.s_nationkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1, 2)
    UNION ALL
    -- r5: TPC-H Q17 (small-quantity-order revenue) — correlated scalar
    -- aggregate (per-part 0.2*avg quantity) decorrelated
    SELECT 'q17', CAST(NULL AS BIGINT), 'Brand#13', CAST(NULL AS VARCHAR),
           ROUND(SUM(l.l_extendedprice) / 7.0, 4),
           CAST(COUNT(*) AS DOUBLE), CAST(NULL AS TIMESTAMP)
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey, 0.2 * AVG(l_quantity) AS lim
          FROM lineitem GROUP BY l_partkey) a
      ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13' AND l.l_quantity < a.lim
    UNION ALL
    -- r5: TPC-H Q18 (large-volume customers) — grouped-HAVING semi-join
    SELECT 'q18', t.o_orderkey, c.c_name, o.o_orderstatus,
           ROUND(o.o_totalprice, 4), t.sum_qty, o.o_orderdate
    FROM (
      SELECT l_orderkey AS o_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300) t
    JOIN orders o ON o.o_orderkey = t.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'seg', c_custkey, c_mktsegment, CAST(NULL AS VARCHAR),
           acctbal, seg_avg, CAST(NULL AS TIMESTAMP)
    FROM (
      WITH seg AS (
        SELECT c_mktsegment, AVG(c_acctbal) AS seg_avg FROM customer
        GROUP BY c_mktsegment)
      SELECT c.c_custkey, c.c_mktsegment,
             ROUND(c.c_acctbal, 4) AS acctbal,
             ROUND(s.seg_avg, 4) AS seg_avg
      FROM customer c JOIN seg s ON c.c_mktsegment = s.c_mktsegment
      WHERE c.c_acctbal > s.seg_avg)
    UNION ALL
    -- r7 session 3: TPC-H Q14 (promo revenue share) — conditional
    -- ratio aggregate over one shipdate month
    SELECT 'q14', NULL, NULL, NULL,
           ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                             THEN l.l_extendedprice * (1 - l.l_discount)
                             ELSE 0.0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4),
           CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END)
                AS DOUBLE),
           CAST(NULL AS TIMESTAMP)
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    UNION ALL
    -- r7 session 3: the Q21 EXISTS / NOT-EXISTS double correlation
    -- (strict-latest shipper on multi-supplier orders), spelled in
    -- the classic correlated form the engine decorrelates to windows
    SELECT 'q21', s.s_suppkey, s.s_name, CAST(NULL AS VARCHAR),
           CAST(t.numwait AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS TIMESTAMP)
    FROM (
      WITH ms AS MATERIALIZED (
        SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS sd
        FROM lineitem GROUP BY 1, 2)
      SELECT l1.l_suppkey AS sk, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM ms l1
      WHERE EXISTS (SELECT 1 FROM ms l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM ms l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.sd >= l1.sd)
      GROUP BY 1 ORDER BY numwait DESC, sk LIMIT 10) t
    JOIN supplier s ON s.s_suppkey = t.sk
    """,
    tags=("join", "tpch", "exists", "ratio"),
    parts=("q3", "q10", "q5", "q17", "q18", "seg", "q14", "q21"),
)
def tpch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H analytics suite in one tagged result (merged r2
    q58+q59+q60 to free driver prefix slots; each branch keeps its own
    plan and the union is append-only):

    * ``q3`` — shipping priority: 3-way join, selective filters on both
      fact and dim, grouped revenue, global top-10. Dims broadcast; the
      fact-fact join shuffles on orderkey; top-k is sort+limit.
    * ``q10`` — returned-item revenue: 4-way snowflake join with the
      returnflag filter pushed into the lineitem scan, top-20.
    * ``q5`` (r5) — local supplier volume: the 6-table join
      (region→nation→supplier ⋈ lineitem ⋈ orders ⋈ customer) with the
      customer-and-supplier-same-nation constraint. All four dims
      broadcast; the only shuffles are the lineitem⋈orders fact join
      and the final nation group-by. The ASIA/date filters prune the
      snowflake BEFORE any fact-side work.
    * ``q17`` (r5) — small-quantity-order revenue: the correlated
      scalar aggregate (``l_quantity < 0.2 * per-part avg``)
      decorrelated Spark-side as ONE window aggregate over the
      brand-pruned fact — the broadcast semi-join on Brand#13 partkeys
      prunes the lineitem scan FIRST, so the window runs on ~1/25 of
      the fact; the SQL oracle spells the same query as the classic
      aggregate-subquery self-join.
    * ``q18`` (r5) — large-volume customers: grouped HAVING
      (sum(l_quantity) > 300 per order) as a pre-aggregated build side
      joined back to orders/customer — the aggregate runs BEFORE the
      joins, so only the ~0.1% qualifying orderkeys reach the join.
    * ``seg`` — customers above their segment's average balance: the
      correlated-aggregate pattern as ONE window aggregate (no
      self-join), where the SQL formulation is a grouped subquery.
    * ``q14`` (r7 session 3) — promo revenue share: the conditional-
      ratio aggregate (two same-order sums in ONE aggregate, so
      partial-sum ulp cancels in the ratio); month filter pushed to
      the scan, part dim broadcast.
    * ``q21``-shape (r7 session 3) — the EXISTS / NOT-EXISTS double
      correlation (strict-latest shipper on multi-supplier orders),
      decorrelated to three window functions sharing one orderkey
      partitioning; the oracle spells the classic correlated form.
      The driver schema has no l_receiptdate, so "late delivery"
      becomes "latest shipper" — the correlation shape is the test.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    cut = F.lit("1998-03-15").cast("timestamp_ntz")
    q3 = (li.filter(F.col("l_shipdate") > cut)
          .join(orders.filter(F.col("o_orderdate") < cut),
                li.l_orderkey == orders.o_orderkey)
          .join(F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
                orders.o_custkey == cust.c_custkey)
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(fround(F.sum(F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))).alias("revenue"))
          .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
          .limit(10)
          .select(F.lit("q3").alias("part"),
                  F.col("l_orderkey").alias("k"),
                  F.col("o_orderpriority").alias("s1"),
                  F.lit(None).cast("string").alias("s2"),
                  F.col("revenue").alias("v1"),
                  F.lit(None).cast("double").alias("v2"),
                  F.col("o_orderdate").alias("d")))

    q10 = (li.filter(F.col("l_returnflag") == "R")
           .join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
           .groupBy("c_custkey", "c_name", "n_name")
           .agg(fround(F.sum(F.col("l_extendedprice")
                             * (1 - F.col("l_discount")))).alias("revenue"),
                F.count(F.lit(1)).alias("n_items"))
           .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
           .limit(20)
           .select(F.lit("q10").alias("part"),
                   F.col("c_custkey").alias("k"),
                   F.col("c_name").alias("s1"),
                   F.col("n_name").alias("s2"),
                   F.col("revenue").alias("v1"),
                   F.col("n_items").cast("double").alias("v2"),
                   F.lit(None).cast("timestamp_ntz").alias("d")))

    supp = load_table(spark, sf_dir, "supplier")
    region = load_table(spark, sf_dir, "region")
    asia = (nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name"))
    y0 = F.lit("1996-01-01").cast("timestamp_ntz")
    y1 = F.lit("1997-01-01").cast("timestamp_ntz")
    q5 = (li
          .join(orders.filter((F.col("o_orderdate") >= y0)
                              & (F.col("o_orderdate") < y1)),
                li.l_orderkey == orders.o_orderkey)
          .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
          .join(F.broadcast(cust),
                (orders.o_custkey == cust.c_custkey)
                & (cust.c_nationkey == supp.s_nationkey))
          .join(F.broadcast(asia), supp.s_nationkey == asia.n_nationkey)
          .groupBy("n_nationkey", "n_name")
          .agg(fround(F.sum(F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))).alias("revenue"),
               F.count(F.lit(1)).alias("n_items"))
          .select(F.lit("q5").alias("part"),
                  F.col("n_nationkey").cast("long").alias("k"),
                  F.col("n_name").alias("s1"),
                  F.lit(None).cast("string").alias("s2"),
                  F.col("revenue").alias("v1"),
                  F.col("n_items").cast("double").alias("v2"),
                  F.lit(None).cast("timestamp_ntz").alias("d")))

    part = load_table(spark, sf_dir, "part")
    brand_keys = part.filter(F.col("p_brand") == "Brand#13") \
        .select("p_partkey")
    li_brand = li.join(F.broadcast(brand_keys),
                       li.l_partkey == brand_keys.p_partkey)
    wq = W.partitionBy("l_partkey")
    q17 = (li_brand
           .withColumn("lim", F.avg("l_quantity").over(wq) * 0.2)
           .filter(F.col("l_quantity") < F.col("lim"))
           .agg(fround(F.sum("l_extendedprice") / 7.0).alias("v1"),
                F.count(F.lit(1)).cast("double").alias("v2"))
           .select(F.lit("q17").alias("part"),
                   F.lit(None).cast("long").alias("k"),
                   F.lit("Brand#13").alias("s1"),
                   F.lit(None).cast("string").alias("s2"),
                   "v1", "v2",
                   F.lit(None).cast("timestamp_ntz").alias("d")))

    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sum_qty"))
           .filter(F.col("sum_qty") > 300))
    q18 = (big.join(orders, big.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .select(F.lit("q18").alias("part"),
                   F.col("l_orderkey").alias("k"),
                   F.col("c_name").alias("s1"),
                   F.col("o_orderstatus").alias("s2"),
                   fround(F.col("o_totalprice")).alias("v1"),
                   F.col("sum_qty").alias("v2"),
                   F.col("o_orderdate").alias("d")))

    w = W.partitionBy("c_mktsegment")
    seg = (cust.withColumn("seg_avg", F.avg("c_acctbal").over(w))
           .filter(F.col("c_acctbal") > F.col("seg_avg"))
           .select(F.lit("seg").alias("part"),
                   F.col("c_custkey").alias("k"),
                   F.col("c_mktsegment").alias("s1"),
                   F.lit(None).cast("string").alias("s2"),
                   fround(F.col("c_acctbal")).alias("v1"),
                   fround(F.col("seg_avg")).alias("v2"),
                   F.lit(None).cast("timestamp_ntz").alias("d")))

    # q14 (r7 session 3): promo-revenue share — the conditional-ratio
    # aggregate over one month; date filter pushes into the scan, the
    # part dim broadcasts, ONE aggregate carries both sums (the ratio
    # divides two same-order sums, so partial-sum ulp cancels under
    # the 4 dp grid; the absolute total is deliberately NOT emitted)
    m0 = F.lit("1997-09-01").cast("timestamp_ntz")
    m1 = F.lit("1997-10-01").cast("timestamp_ntz")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    q14 = (li.filter((F.col("l_shipdate") >= m0)
                     & (F.col("l_shipdate") < m1))
           .join(F.broadcast(part), li.l_partkey == part.p_partkey)
           .agg((100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev)
                               .otherwise(0.0)) / F.sum(rev))
                .alias("ratio"),
                F.count(F.when(F.col("p_type") == "PROMO", 1))
                .alias("np"))
           .select(F.lit("q14").alias("part"),
                   F.lit(None).cast("long").alias("k"),
                   F.lit(None).cast("string").alias("s1"),
                   F.lit(None).cast("string").alias("s2"),
                   fround(F.col("ratio")).alias("v1"),
                   F.col("np").cast("double").alias("v2"),
                   F.lit(None).cast("timestamp_ntz").alias("d")))

    # q21-shape (r7 session 3): the EXISTS / NOT-EXISTS double
    # correlation (suppliers who were the strict-latest shipper on a
    # multi-supplier order), decorrelated Spark-side as windows over
    # ONE (order, supplier, max shipdate) aggregate — count, max and
    # tie-count share a single partitioning; the oracle spells the
    # classic correlated EXISTS/NOT EXISTS form. Top-10 by
    # (numwait DESC, suppkey). No l_receiptdate in the driver schema,
    # so "late" is replaced by "latest shipper" — the join/correlation
    # SHAPE is the thing under test.
    ms = (li.groupBy("l_orderkey", "l_suppkey")
          .agg(F.max("l_shipdate").alias("sd")))
    wo = W.partitionBy("l_orderkey")
    st = (ms.withColumn("ns", F.count(F.lit(1)).over(wo))
          .withColumn("mx", F.max("sd").over(wo)))
    st = st.withColumn(
        "n_at_mx",
        F.sum(F.when(F.col("sd") == F.col("mx"), 1).otherwise(0))
        .over(wo))
    q21 = (st.filter((F.col("ns") >= 2) & (F.col("sd") == F.col("mx"))
                     & (F.col("n_at_mx") == 1))
           .groupBy("l_suppkey")
           .agg(F.count(F.lit(1)).alias("numwait"))
           .orderBy(F.col("numwait").desc(), F.col("l_suppkey"))
           .limit(10)
           .join(F.broadcast(supp.select("s_suppkey", "s_name")),
                 F.col("l_suppkey") == F.col("s_suppkey"))
           .select(F.lit("q21").alias("part"),
                   F.col("s_suppkey").alias("k"),
                   F.col("s_name").alias("s1"),
                   F.lit(None).cast("string").alias("s2"),
                   F.col("numwait").cast("double").alias("v1"),
                   F.lit(None).cast("double").alias("v2"),
                   F.lit(None).cast("timestamp_ntz").alias("d")))

    return (q3.unionByName(q10).unionByName(q5).unionByName(q17)
            .unionByName(q18).unionByName(seg)
            .unionByName(q14).unionByName(q21))


# Phase telemetry for the bench (VERDICT r3 "What's wrong" #2): q69's
# elapsed time is dominated by tempdir SINK I/O — a legitimate
# correctness check, but misleading as an engine-throughput line. The
# query records its write-phase seconds here on every run; bench.py
# subtracts the write phase from the suite number and reports it
# separately in BENCH_DETAIL.json.
Q69_PHASES: dict[str, float] = {}


@register(
    "q69_csv_roundtrip_check",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer)
    SELECT p.part, n.n AS n_source, n.n AS n_back,
           CAST(0 AS BIGINT) AS n_only_back,
           CAST(0 AS BIGINT) AS n_only_source,
           TRUE AS roundtrip_ok
    FROM n, (VALUES ('csv'), ('jsonl'), ('orc'), ('compact'),
                    ('zorder')) AS p(part)
    """,
    tags=("io", "csv", "json", "orc", "compaction", "zorder"),
)
def csv_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2/S8 driver-visible, one row per FORMAT (r3: csv + jsonl +
    orc): write the customer table out, read it back with an EXPLICIT
    schema (the engine's S1 discipline — the reference reads
    header-only/all-string, ``Main.scala:59,86``), and self-check:
    counts plus exceptAll diffs in both directions, 0 iff the codec
    round-trips every value (incl. full-precision doubles and quoted
    commas in CSV / JSON number text / ORC binary) bit-for-bit.

    The ``compact`` part exercises the small-file-aware sink
    (``io.write_compacted``): the table must land in exactly
    ceil(rows / rows_per_file) even-sized parquet files (counted on
    the filesystem) and read back row-complete — the final-write
    compaction every lakehouse job applies at scale.

    The ``zorder`` part (r5) exercises the Z-order clustered sink
    (``operators.layout.write_zordered``): clustering must be a pure
    REORDERING — row-identical data back (both exceptAll diffs zero)
    in exactly the requested file count. The data-skipping payoff the
    layout exists for (footer min/max pruning on BOTH clustered
    dimensions) is measured in tests/test_layout.py.

    Oracle-backed: ``n_source``/``n_back`` are genuinely SQL-derived
    (each must equal COUNT(*) of customer per format); the diff
    columns pin the exceptAll checks at zero (for ``compact``, the
    file-count delta). Eagerly materialized so
    the scratch directory can be removed before returning (ADVICE r2:
    the old lazy version leaked a full CSV copy per run)."""
    import glob
    import os
    import shutil
    import tempfile
    import time as _time

    from ..io import write_compacted

    # persist: the source table feeds 3 writes plus both sides of two
    # exceptAll diffs per format — without the cache that is 9+
    # re-scans of the parquet; n_source is computed once, not per loop
    cust = load_table(spark, sf_dir, "customer").persist()
    root = tempfile.mkdtemp(prefix="spark_rt_")
    rows = []
    write_s = 0.0
    Q69_PHASES.clear()
    try:
        n_source = cust.count()
        for part in ("csv", "jsonl", "orc", "compact", "zorder"):
            path = os.path.join(root, f"customer_{part}")
            extra_ok = True
            if part == "csv":
                t0 = _time.perf_counter()
                cust.write.mode("overwrite").option("header", True).csv(path)
                write_s += _time.perf_counter() - t0
                back = spark.read.csv(path, header=True, schema=cust.schema)
            elif part == "jsonl":
                t0 = _time.perf_counter()
                cust.write.mode("overwrite").json(path)
                write_s += _time.perf_counter() - t0
                back = spark.read.schema(cust.schema).json(path)
            elif part == "compact":
                t0 = _time.perf_counter()
                expected = write_compacted(cust, path, rows_per_file=1000,
                                           n_rows=n_source)
                write_s += _time.perf_counter() - t0
                actual = len(glob.glob(os.path.join(path,
                                                    "part-*.parquet")))
                n_back = (spark.read.schema(cust.schema).parquet(path)
                          .count())
                rows.append(("compact", n_source, n_back,
                             actual - expected, 0,
                             n_back == n_source and actual == expected))
                continue
            elif part == "zorder":
                # r5: the z-order clustered sink (operators.layout) —
                # clustering must be a pure REORDERING: row-identical
                # data, exactly the requested file count
                from ..operators.layout import write_zordered

                t0 = _time.perf_counter()
                write_zordered(cust, ["c_custkey", "c_acctbal"], path,
                               n_files=4)
                write_s += _time.perf_counter() - t0
                extra_ok = len(glob.glob(
                    os.path.join(path, "part-*.parquet"))) == 4
                back = spark.read.schema(cust.schema).parquet(path)
            else:
                t0 = _time.perf_counter()
                cust.write.mode("overwrite").orc(path)
                write_s += _time.perf_counter() - t0
                back = spark.read.schema(cust.schema).orc(path)
            row = (back.agg(F.count(F.lit(1)).alias("n_back"))
                   .crossJoin(back.exceptAll(cust).agg(
                       F.count(F.lit(1)).alias("n_only_back")))
                   .crossJoin(cust.exceptAll(back).agg(
                       F.count(F.lit(1)).alias("n_only_source")))
                   .first())
            ok = (n_source == row.n_back and row.n_only_back == 0
                  and row.n_only_source == 0 and extra_ok)
            rows.append((part, n_source, row.n_back, row.n_only_back,
                         row.n_only_source, ok))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        cust.unpersist()
        Q69_PHASES["write_seconds"] = round(write_s, 3)
    return spark.createDataFrame(
        rows,
        "part string, n_source long, n_back long, n_only_back long,"
        " n_only_source long, roundtrip_ok boolean")


