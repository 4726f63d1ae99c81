"""Cleaning-operator queries (SURVEY.md §2.2-2.3, M2), oracle-checked.

The driver tables are clean, so each query first *synthesizes* dirt
with a deterministic CASE (identically on the oracle side), then
applies the engine op — proving the op does something, not just that
identity == identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..io import load_table
from ..operators.cleaning import (
    day_part_expr,
    impute_mean,
    impute_mode,
    na_to_null_expr,
    null_to_unknown_expr,
)
from .registry import fround, register


# q12 `profile` part: columns profiled and the truncation applied to
# stringified values (mirrored into the generated oracle legs)
_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]
_PROFILE_VLEN = 24


def _profile_oracle_legs() -> str:
    """Per-column UNION ALL legs re-deriving profile_table's stats —
    generated from the same column list/truncation constants as the
    engine call, so the two sides cannot drift by transcription."""
    legs = []
    for c in _PROFILE_COLS:
        legs.append(f"""
    SELECT 'profile' AS part, '{c}' AS k1, 'n_nulls' AS k2,
           CAST(COUNT(*) FILTER ({c} IS NULL) AS VARCHAR) AS s,
           CAST(NULL AS BIGINT) AS n
    FROM documents
    UNION ALL
    SELECT 'profile', '{c}', 'n_distinct',
           CAST(COUNT(DISTINCT {c}) AS VARCHAR), NULL FROM documents
    UNION ALL
    SELECT 'profile', '{c}', 'min',
           substr(CAST(MIN({c}) AS VARCHAR), 1, {_PROFILE_VLEN}), NULL
    FROM documents
    UNION ALL
    SELECT 'profile', '{c}', 'max',
           substr(CAST(MAX({c}) AS VARCHAR), 1, {_PROFILE_VLEN}), NULL
    FROM documents
    UNION ALL
    SELECT 'profile', '{c}', t.k2, t.s, NULL FROM (
      SELECT 'top_value' AS k2,
             substr(v, 1, {_PROFILE_VLEN}) AS s, cnt FROM (
        SELECT CAST({c} AS VARCHAR) AS v, COUNT(*) AS cnt
        FROM documents WHERE {c} IS NOT NULL GROUP BY 1
        ORDER BY cnt DESC, v ASC LIMIT 1)
      UNION ALL
      SELECT 'top_count', CAST(cnt AS VARCHAR), cnt FROM (
        SELECT CAST({c} AS VARCHAR) AS v, COUNT(*) AS cnt
        FROM documents WHERE {c} IS NOT NULL GROUP BY 1
        ORDER BY cnt DESC, v ASC LIMIT 1)) t""")
    return "\n    UNION ALL".join(legs)


@register(
    "q12_sentinel_cleaning",
    oracle=f"""
    WITH d AS (
      SELECT NULLIF(CASE WHEN lang = 'en' THEN 'NA' ELSE lang END, 'NA') AS lang_clean,
             CASE WHEN source = 'src0' THEN 'Unknow'
                  WHEN source = 'src1' THEN ''
                  WHEN source = 'src2' THEN ' '
                  WHEN source = 'src3' THEN NULL
                  ELSE source END AS s
      FROM documents)
    SELECT 'clean' AS part, lang_clean AS k1,
           CASE WHEN s IS NULL OR s IN ('Unknow', 'None', '', ' ')
                THEN 'unknown' ELSE s END AS k2,
           CAST(NULL AS VARCHAR) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM d
    GROUP BY 1, 2, 3
    UNION ALL{_profile_oracle_legs()}
    UNION ALL
    -- r5 session 5: exact equi-depth histogram of n_chars
    -- (operators.relational.equidepth_histogram) — whole-value
    -- buckets from the exclusive cumulative count over the distinct-
    -- value table; integer arithmetic end-to-end
    SELECT 'hist', 'n_chars', CAST(h.bucket AS VARCHAR),
           CAST(h.lo AS VARCHAR) || ':' || CAST(h.hi AS VARCHAR)
             || ':' || CAST(h.n_values AS VARCHAR),
           h.n_rows
    FROM (
      WITH vc AS (
        SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
      b AS (
        SELECT v, c,
               LEAST(CAST(floor((SUM(c) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) - c) * 8 / SUM(c) OVER ()) AS BIGINT),
                     7) AS bucket
        FROM vc)
      SELECT bucket, CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             MIN(v) AS lo, MAX(v) AS hi
      FROM b GROUP BY 1) h
    UNION ALL
    -- r5 session 5: data-quality expectations
    -- (operators.expectations) — every check's violation count
    -- re-derived; the dirty-lang check MUST fail (detection proof)
    SELECT 'expect', 'unique(doc_id)',
           CASE WHEN v = 0 THEN 'pass' ELSE 'fail' END, NULL, v
    FROM (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS v
          FROM (SELECT COUNT(*) AS c FROM documents GROUP BY doc_id))
    UNION ALL
    SELECT 'expect', 'not_null(text)',
           CASE WHEN v = 0 THEN 'pass' ELSE 'fail' END, NULL, v
    FROM (SELECT CAST(COUNT(*) FILTER (text IS NULL) AS BIGINT) AS v
          FROM documents)
    UNION ALL
    SELECT 'expect', 'in_set(lang)',
           CASE WHEN v = 0 THEN 'pass' ELSE 'fail' END, NULL, v
    FROM (SELECT CAST(COUNT(*) FILTER (lang IS NULL OR lang NOT IN
            ('en','es','de','fr','zh')) AS BIGINT) AS v
          FROM documents)
    UNION ALL
    SELECT 'expect', 'in_set(lang_dirty)',
           CASE WHEN v = 0 THEN 'pass' ELSE 'fail' END, NULL, v
    FROM (SELECT CAST(COUNT(*) FILTER (d IS NULL OR d NOT IN
            ('en','es','de','fr','zh')) AS BIGINT) AS v
          FROM (SELECT CASE WHEN lang = 'en' THEN 'NA' ELSE lang END
                  AS d FROM documents))
    UNION ALL
    SELECT 'expect', 'range(n_chars)',
           CASE WHEN v = 0 THEN 'pass' ELSE 'fail' END, NULL, v
    FROM (SELECT CAST(COUNT(*) FILTER (n_chars IS NOT NULL AND
            (n_chars < 1 OR n_chars > 100000)) AS BIGINT) AS v
          FROM documents)
    UNION ALL
    SELECT 'expect', 'subset(o_custkey->c_custkey)',
           CASE WHEN v = 0 THEN 'pass' ELSE 'fail' END, NULL, v
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS v
          FROM orders o
          WHERE o.o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    -- r6: snapshot diff (operators.relational.snapshot_diff) — the
    -- new snapshot deletes every 13th key, bumps totalprice on every
    -- 17th, flips status on every 23rd, inserts shifted keys for
    -- every 19th; one full-outer join + conditional sums
    SELECT 'diff', d.metric, d.col, NULL, d.n
    FROM (
      WITH oldsnap AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
      newsnap AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 17 = 0
                    THEN o_totalprice + 100 ELSE o_totalprice END
                 AS o_totalprice,
               CASE WHEN o_orderkey % 23 = 0
                    THEN 'X' ELSE o_orderstatus END AS o_orderstatus
        FROM orders WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 19 = 0),
      dj AS (
        SELECT o.o_orderkey AS ko, n.o_orderkey AS kn,
               (o.o_orderkey IS NOT NULL
                AND n.o_orderkey IS NOT NULL
                AND o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                 AS c_tp,
               (o.o_orderkey IS NOT NULL
                AND n.o_orderkey IS NOT NULL
                AND o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                 AS c_st
        FROM oldsnap o FULL OUTER JOIN newsnap n
          ON o.o_orderkey = n.o_orderkey)
      SELECT 'rows_added' AS metric, CAST(NULL AS VARCHAR) AS col,
             CAST(SUM(CASE WHEN ko IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n
      FROM dj
      UNION ALL
      SELECT 'rows_removed', NULL,
             CAST(SUM(CASE WHEN kn IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) FROM dj
      UNION ALL
      SELECT 'rows_changed', NULL,
             CAST(SUM(CASE WHEN c_tp OR c_st THEN 1 ELSE 0 END)
                  AS BIGINT) FROM dj
      UNION ALL
      SELECT 'rows_unchanged', NULL,
             CAST(SUM(CASE WHEN ko IS NOT NULL AND kn IS NOT NULL
                            AND NOT (c_tp OR c_st)
                           THEN 1 ELSE 0 END) AS BIGINT) FROM dj
      UNION ALL
      SELECT 'col_changed', 'o_totalprice',
             CAST(SUM(CASE WHEN c_tp THEN 1 ELSE 0 END) AS BIGINT)
      FROM dj
      UNION ALL
      SELECT 'col_changed', 'o_orderstatus',
             CAST(SUM(CASE WHEN c_st THEN 1 ELSE 0 END) AS BIGINT)
      FROM dj) d
    UNION ALL
    -- r7 session 3: per-source PSI of n_chars vs the global
    -- reference (operators.relational.psi_drift) — global 10-bin
    -- equi-depth buckets (ties atomic), add-half smoothing on both
    -- shares, each term nano-quantized so the cross-bin sum is an
    -- exact BIGINT; emitted as nano-PSI in n
    SELECT 'psi', 'n_chars', g.src,
           CAST(g.n_g AS VARCHAR) || ':' || CAST(g.n_b AS VARCHAR),
           g.psi_nano
    FROM (
      WITH pvc AS (
        SELECT n_chars AS v, source AS src, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
      ptv AS (SELECT v, SUM(c) AS c_v FROM pvc GROUP BY 1),
      pbk AS (
        SELECT v, c_v,
               LEAST(CAST(floor((SUM(c_v) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) - c_v) * 10 / SUM(c_v) OVER ()) AS BIGINT),
                     9) AS bucket
        FROM ptv),
      pgb AS (SELECT bucket, CAST(SUM(c_v) AS BIGINT) AS c_b
              FROM pbk GROUP BY 1),
      pnb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
                     CAST(SUM(c_b) AS BIGINT) AS n_tot FROM pgb),
      psb AS (SELECT s.src, b.bucket, CAST(SUM(s.c) AS BIGINT) AS c_sb
              FROM pvc s JOIN pbk b USING (v) GROUP BY 1, 2),
      pgr AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n_g
              FROM pvc GROUP BY 1),
      pterms AS (
        SELECT pgr.src, pgr.n_g, pnb.n_b,
               CAST(ROUND(((COALESCE(psb.c_sb, 0) + 0.5)
                             / (pgr.n_g + 0.5 * pnb.n_b)
                           - (pgb.c_b + 0.5)
                             / (pnb.n_tot + 0.5 * pnb.n_b))
                          * LN(((COALESCE(psb.c_sb, 0) + 0.5)
                                / (pgr.n_g + 0.5 * pnb.n_b))
                               / ((pgb.c_b + 0.5)
                                  / (pnb.n_tot + 0.5 * pnb.n_b)))
                          * 1000000000) AS BIGINT) AS termq
        FROM pgr CROSS JOIN pgb CROSS JOIN pnb
        LEFT JOIN psb ON psb.src = pgr.src AND psb.bucket = pgb.bucket)
      SELECT src, n_g, n_b, CAST(SUM(termq) AS BIGINT) AS psi_nano
      FROM pterms GROUP BY 1, 2, 3) g
    UNION ALL
    -- r7 session 3: k-anonymity / l-diversity release audit
    -- (operators.expectations.k_anonymity_audit) over two QI sets;
    -- sensitive attribute = last char of c_name; all-integer outputs
    SELECT 'kanon', ka.qi, ka.metric, NULL, ka.n
    FROM (
      WITH kg1 AS (
        SELECT COUNT(*) AS n,
               COUNT(DISTINCT right(c_name, 1)) AS l
        FROM customer GROUP BY c_nationkey, c_mktsegment),
      kg2 AS (
        SELECT COUNT(*) AS n,
               COUNT(DISTINCT right(c_name, 1)) AS l
        FROM customer
        GROUP BY c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal / 1000) AS BIGINT)),
      ks1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(MIN(n) AS BIGINT) AS min_group,
               CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_groups_below_k,
               CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0)
                    AS BIGINT) AS n_rows_below_k,
               CAST(MIN(l) AS BIGINT) AS min_l,
               CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_groups_below_l
        FROM kg1),
      ks2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(MIN(n) AS BIGINT) AS min_group,
               CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_groups_below_k,
               CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0)
                    AS BIGINT) AS n_rows_below_k,
               CAST(MIN(l) AS BIGINT) AS min_l,
               CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_groups_below_l
        FROM kg2)
      SELECT 'nation_seg' AS qi, u.metric, u.n
      FROM ks1, LATERAL (VALUES
        ('n_groups', ks1.n_groups), ('min_group', ks1.min_group),
        ('n_groups_below_k', ks1.n_groups_below_k),
        ('n_rows_below_k', ks1.n_rows_below_k),
        ('min_l', ks1.min_l),
        ('n_groups_below_l', ks1.n_groups_below_l)) u(metric, n)
      UNION ALL
      SELECT 'nation_seg_bal', u.metric, u.n
      FROM ks2, LATERAL (VALUES
        ('n_groups', ks2.n_groups), ('min_group', ks2.min_group),
        ('n_groups_below_k', ks2.n_groups_below_k),
        ('n_rows_below_k', ks2.n_rows_below_k),
        ('min_l', ks2.min_l),
        ('n_groups_below_l', ks2.n_groups_below_l)) u(metric, n)) ka
    """,
    tags=("cleaning", "profile", "histogram", "expectations", "diff",
          "psi", "drift", "kanon", "privacy"),
    parts=("clean", "profile", "hist", "expect", "diff", "psi",
           "kanon"),
)
def sentinel_cleaning_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality suite over the documents table, tagged:

    * ``clean`` — U1+U2 in the reference's actual cleaning sequence
      (merged r1 q12+q13 so both fit the driver's checked prefix).
      U2 (``Main.scala:20-25``): "NA" → NULL as a native expression;
      dirt turns 'en' rows into the "NA" sentinel, so the NULL group
      in the output proves the rewrite happened. U1
      (``Main.scala:13-18``): null/"Unknow"/"None"/""/" " →
      "unknown"; dirt maps four source buckets onto the four dirty
      tokens so every branch of the when-chain is exercised. Grouped
      on both cleaned columns — one scan, one shuffle.
    * ``profile`` — r5 session 4: the ANALYZE-TABLE operator
      (operators.relational.profile_table): per column, null count,
      exact distinct count, min/max (native-type comparison,
      stringified after), modal value + count (deterministic
      string-value tie-break). k1 = column, k2 = stat, s = the
      stringified value; every row re-derived by generated oracle
      legs sharing the engine's column list and truncation constants.
    * ``hist`` — r5 session 5: exact equi-depth histogram of
      ``n_chars`` (operators.relational.equidepth_histogram, B=8):
      distinct-value counts → exclusive cumulative split → whole-value
      buckets, all integer arithmetic. k2 = bucket, s = lo:hi:n_values,
      n = rows in bucket.
    * ``expect`` — r5 session 5: the dbt-test-style data-quality
      contract (operators.expectations): uniqueness, presence,
      value-set, range, and referential-integrity checks as one-row
      aggregates unioned into a suite report. k1 = check,
      k2 = pass/fail, n = violation count. The dirty-lang check is
      PLANTED to fail (en→'NA'), proving detection; every count is
      oracle-re-derived.
    * ``diff`` — r6: snapshot reconciliation
      (operators.relational.snapshot_diff): the new orders snapshot
      deletes every 13th key, bumps totalprice on every 17th, flips
      status on every 23rd and inserts shifted keys for every 19th;
      the diff reports rows added/removed/changed/unchanged plus
      per-column change counts from ONE full-outer key join + ONE
      conditional-sum aggregate (null-safe inequality). k1 = metric,
      k2 = column for the per-column rows, n = count.
    * ``psi`` — r7 session 3: per-source Population Stability Index
      of n_chars vs the global reference
      (operators.relational.psi_drift) — the industry-standard
      numeric-feature drift monitor (global 10-bin equi-depth
      buckets, add-half smoothing, nano-quantized terms summed in
      exact BIGINTs). k2 = source, s = "n_g:bins", n = nano-PSI.
    * ``kanon`` — r7 session 3: k-anonymity + distinct l-diversity
      release audit (operators.expectations.k_anonymity_audit) over
      two quasi-identifier sets on customer (coarse nation×segment;
      fine adds the balance kilo-bucket), sensitive attribute = last
      name char. k1 = QI set, k2 = metric (group count, min group,
      groups/rows below k=5, min l, groups below l=3) — the integer
      gate numbers a training-data release thresholds on.
    """
    docs = load_table(spark, sf_dir, "documents")
    lang_dirty = F.when(F.col("lang") == "en", "NA").otherwise(F.col("lang"))
    src_dirty = (
        F.when(F.col("source") == "src0", "Unknow")
        .when(F.col("source") == "src1", "")
        .when(F.col("source") == "src2", " ")
        .when(F.col("source") == "src3", F.lit(None).cast("string"))
        .otherwise(F.col("source"))
    )
    clean = (
        docs.select(na_to_null_expr(lang_dirty).alias("k1"),
                    null_to_unknown_expr(src_dirty).alias("k2"))
        .groupBy("k1", "k2")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("clean").alias("part"), "k1", "k2",
                F.lit(None).cast("string").alias("s"), "n")
    )

    from ..operators.relational import profile_table

    prof = (profile_table(docs, _PROFILE_COLS, value_len=_PROFILE_VLEN)
            .select(F.lit("profile").alias("part"),
                    F.col("column").alias("k1"),
                    F.col("stat").alias("k2"),
                    F.col("value").alias("s"),
                    F.lit(None).cast("long").alias("n")))

    from ..operators.relational import equidepth_histogram

    hist = (equidepth_histogram(docs, "n_chars", n_buckets=8)
            .select(F.lit("hist").alias("part"),
                    F.lit("n_chars").alias("k1"),
                    F.col("bucket").cast("string").alias("k2"),
                    F.concat_ws(":", F.col("lo"), F.col("hi"),
                                F.col("n_values")).alias("s"),
                    F.col("n_rows").alias("n")))

    from ..operators.expectations import (
        expect_in_set,
        expect_not_null,
        expect_range,
        expect_subset,
        expect_unique,
        run_expectations,
    )

    langs = ["en", "es", "de", "fr", "zh"]
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    checks = run_expectations([
        expect_unique(docs, ["doc_id"], name="unique(doc_id)"),
        expect_not_null(docs, "text", name="not_null(text)"),
        expect_in_set(docs, "lang", langs, name="in_set(lang)"),
        expect_in_set(docs.select(lang_dirty.alias("lang")), "lang",
                      langs, name="in_set(lang_dirty)"),
        expect_range(docs, "n_chars", 1, 100000,
                     name="range(n_chars)"),
        expect_subset(orders, "o_custkey", customer, "c_custkey",
                      name="subset(o_custkey->c_custkey)"),
    ])
    expect_part = checks.select(
        F.lit("expect").alias("part"),
        F.col("check").alias("k1"),
        F.col("status").alias("k2"),
        F.lit(None).cast("string").alias("s"),
        F.col("n_violations").alias("n"))
    from ..operators.relational import snapshot_diff

    # diff: snapshot reconciliation — the post-backfill audit. The
    # 'new' snapshot applies four deterministic mutation classes so
    # every diff bucket is provably non-empty at every scale.
    ok = F.col("o_orderkey")
    oldsnap = orders.select("o_orderkey", "o_totalprice",
                            "o_orderstatus")
    newsnap = (orders.filter(ok % 13 != 0)
               .select("o_orderkey",
                       F.when(ok % 17 == 0, F.col("o_totalprice") + 100)
                        .otherwise(F.col("o_totalprice"))
                        .alias("o_totalprice"),
                       F.when(ok % 23 == 0, F.lit("X"))
                        .otherwise(F.col("o_orderstatus"))
                        .alias("o_orderstatus"))
               .unionByName(
                   orders.filter(ok % 19 == 0)
                   .select((ok + 100000000).alias("o_orderkey"),
                           "o_totalprice", "o_orderstatus")))
    diff = (snapshot_diff(oldsnap, newsnap, ["o_orderkey"],
                          ["o_totalprice", "o_orderstatus"])
            .select(F.lit("diff").alias("part"),
                    F.col("metric").alias("k1"),
                    F.col("column").alias("k2"),
                    F.lit(None).cast("string").alias("s"),
                    F.col("n").cast("long").alias("n")))
    from ..operators.relational import psi_drift

    # psi — r7 session 3: per-source Population Stability Index of
    # n_chars vs the global reference (10 global equi-depth bins,
    # add-half smoothing, nano-quantized terms — operator docstring).
    # The numeric-feature drift monitor beside q36's token-KL drift;
    # emitted as exact nano-PSI integers in the n column.
    psi = (psi_drift(docs, "n_chars", "source", n_bins=10)
           .select(F.lit("psi").alias("part"),
                   F.lit("n_chars").alias("k1"),
                   F.col("source").alias("k2"),
                   F.concat_ws(":", F.col("n_g"), F.col("n_bins_used"))
                   .alias("s"),
                   F.col("psi_nano").alias("n")))
    from ..operators.expectations import k_anonymity_audit

    # kanon — r7 session 3: k-anonymity / l-diversity release audit
    # over two quasi-identifier sets on customer (sensitive = last
    # name char); one combine-enabled aggregate per QI set, integer
    # outputs the oracle re-derives exactly
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_kilo", F.floor(F.col("c_acctbal") / 1000).cast("long"))
    sens = "__sens"
    cust = cust.withColumn(sens, F.expr("right(c_name, 1)"))
    kanon_rows = []
    for qi_name, qi_cols in (
            ("nation_seg", ["c_nationkey", "c_mktsegment"]),
            ("nation_seg_bal",
             ["c_nationkey", "c_mktsegment", "bal_kilo"])):
        kanon_rows.append(
            k_anonymity_audit(cust, qi_cols, sens, k=5, l_div=3)
            .select(F.lit("kanon").alias("part"),
                    F.lit(qi_name).alias("k1"),
                    F.col("metric").alias("k2"),
                    F.lit(None).cast("string").alias("s"),
                    F.col("value").cast("long").alias("n")))
    kanon = kanon_rows[0].unionByName(kanon_rows[1])
    return (clean.unionByName(prof).unionByName(hist)
            .unionByName(expect_part).unionByName(diff)
            .unionByName(psi).unionByName(kanon))


@register(
    "q14_day_part_bucketize",
    oracle="""
    WITH d AS (
      SELECT CASE WHEN event_id % 97 = 0 THEN 9999
                  ELSE CAST(hour(ts) * 100 + minute(ts) AS INTEGER) END AS hhmm,
             value
      FROM events)
    SELECT CASE WHEN hhmm >= 0    AND hhmm < 500   THEN 'lateNight'
                WHEN hhmm >= 500  AND hhmm < 800   THEN 'earlyMorning'
                WHEN hhmm >= 800  AND hhmm < 1200  THEN 'lateMorning'
                WHEN hhmm >= 1200 AND hhmm < 1400  THEN 'earlyAfternoon'
                WHEN hhmm >= 1400 AND hhmm < 1700  THEN 'lateAfternoon'
                WHEN hhmm >= 1700 AND hhmm < 1900  THEN 'earlyEvening'
                WHEN hhmm >= 1900 AND hhmm < 2100  THEN 'lateEvening'
                WHEN hhmm >= 2100 AND hhmm <= 2400 THEN 'earlyNight'
                ELSE '' END AS day_part,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(value), 4)     AS avg_value
    FROM d
    GROUP BY 1
    """,
    tags=("cleaning", "bucketize"),
)
def day_part_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 (``Main.scala:27-38``): hhmm → 8 day-part buckets, out-of-
    range → "". Dirt: every 97th event gets hhmm=9999 to exercise the
    default branch; the rest derive hhmm from the event timestamp."""
    ev = load_table(spark, sf_dir, "events")
    hhmm = (
        F.when(F.col("event_id") % 97 == 0, F.lit(9999))
        .otherwise((F.hour("ts") * 100 + F.minute("ts")).cast("int"))
    )
    return (
        ev.select(day_part_expr(hhmm).alias("day_part"), "value")
        .groupBy("day_part")
        .agg(F.count(F.lit(1)).alias("n"),
             fround(F.avg("value")).alias("avg_value"))
    )


@register(
    "q16_impute_suite",
    oracle="""
    WITH d AS (
      SELECT CASE WHEN l_linenumber = 3 THEN NULL ELSE l_quantity END AS q
      FROM lineitem),
    m AS (SELECT AVG(q) AS mq FROM d),
    dp AS (
      SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS prio
      FROM orders),
    mp AS (
      SELECT prio AS mode_prio FROM dp WHERE prio IS NOT NULL
      GROUP BY prio ORDER BY COUNT(*) DESC, prio ASC LIMIT 1)
    SELECT 'mean' AS part, CAST(NULL AS VARCHAR) AS prio,
           CAST(NULL AS BIGINT)                  AS n,
           ROUND(SUM(COALESCE(q, mq)), 4)        AS sum_imputed,
           ROUND(AVG(COALESCE(q, mq)), 4)        AS avg_imputed,
           CAST(COUNT(*) - COUNT(q) AS BIGINT)   AS n_was_null,
           CAST(COUNT(*) AS BIGINT)              AS n_rows
    FROM d, m
    UNION ALL
    SELECT 'mode', COALESCE(dp.prio, mp.mode_prio),
           CAST(COUNT(*) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM dp, mp
    GROUP BY 2
    UNION ALL
    -- r5 session 5: leave-one-out target encoding of the dirty
    -- priority against o_totalprice
    -- (operators.cleaning.target_encode_loo) — per-category sum and
    -- mean of the encoded values, NULL category as its own group
    -- sum column NULL (r7, the mest lesson): Σte sits at ~1e10 where
    -- cross-engine summation-order ulp crosses the 4 dp grid at
    -- sf0.1; the per-category mean at ~2.5e5 carries the check with
    -- 100× grid margin
    SELECT 'loo', g.prio, g.n, CAST(NULL AS DOUBLE), ROUND(g.a, 4),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM (
      WITH dte AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderpriority END AS prio,
               o_totalprice AS y
        FROM orders),
      enc AS (
        -- faithful mirror of the engine's when-chain (ADVICE r5):
        -- non-null target in a >1 group -> leave-one-out mean;
        -- NULL target with any non-null sibling -> plain group mean;
        -- singleton / all-null group -> global prior
        SELECT prio,
               CASE WHEN y IS NOT NULL AND COUNT(y) OVER w > 1
                    THEN (SUM(y) OVER w - y) / (COUNT(y) OVER w - 1)
                    WHEN y IS NULL AND COUNT(y) OVER w >= 1
                    THEN SUM(y) OVER w / COUNT(y) OVER w
                    ELSE AVG(y) OVER () END AS te
        FROM dte
        WINDOW w AS (PARTITION BY prio))
      SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(te) AS s, AVG(te) AS a
      FROM enc GROUP BY 1) g
    UNION ALL
    -- r6: m-estimate (shrinkage) encoding of the same dirty priority
    -- (operators.cleaning.target_encode_m, m=10) — every category
    -- pulled toward the global prior by its evidence mass
    SELECT 'mest', g.prio, g.n, CAST(NULL AS DOUBLE),
           ROUND(g.a, 4),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM (
      WITH dte2 AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderpriority END AS prio,
               o_totalprice AS y
        FROM orders),
      enc2 AS (
        SELECT prio,
               (COALESCE(SUM(y) OVER w, 0.0) + 10.0 * AVG(y) OVER ())
                 / (COUNT(y) OVER w + 10.0) AS te
        FROM dte2
        WINDOW w AS (PARTITION BY prio))
      SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
             AVG(te) AS a
      FROM enc2 GROUP BY 1) g
    UNION ALL
    -- r7: quantile normalization of o_totalprice per dirty priority
    -- onto the global distribution (operators.cleaning.
    -- quantile_normalize) — step convention, all-integer rank
    -- mapping k = ceil(cum_g*N/n_g), global value at position k via
    -- the sorted boundary/query merge; readout per (prio, ntile)
    SELECT 'qnorm', t.prio, CAST(COUNT(*) AS BIGINT),
           ROUND(MAX(t.qv), 4), ROUND(AVG(t.qv), 4),
           CAST(t.tile AS BIGINT), CAST(NULL AS BIGINT)
    FROM (
      WITH src AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderpriority END AS prio,
               o_totalprice AS v
        FROM orders WHERE o_totalprice IS NOT NULL),
      gc AS (
        SELECT prio, v,
               SUM(c) OVER (PARTITION BY prio ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_g,
               SUM(c) OVER (PARTITION BY prio) AS n_g
        FROM (SELECT prio, v, COUNT(*) AS c FROM src GROUP BY 1, 2)),
      nt AS (SELECT COUNT(*) AS nn FROM src),
      ks AS (
        SELECT prio, v, ((cum_g * nn - 1) // n_g) + 1 AS k
        FROM gc CROSS JOIN nt),
      bound AS (
        SELECT v AS u,
               SUM(c2) OVER (ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS pos
        FROM (SELECT v, COUNT(*) AS c2 FROM src GROUP BY 1)),
      merged AS (
        SELECT prio, v, tag,
               FIRST_VALUE(u IGNORE NULLS) OVER (
                 ORDER BY pos, tag
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                 AS mapped
        FROM (
          SELECT prio, v, k AS pos, 0 AS tag,
                 CAST(NULL AS DOUBLE) AS u
          FROM ks
          UNION ALL
          SELECT NULL, NULL, pos, 1, u FROM bound)),
      rowmap AS (
        SELECT s.prio, s.v, m.mapped AS qv
        FROM src s
        JOIN (SELECT prio, v, mapped FROM merged WHERE tag = 0) m
          ON s.prio IS NOT DISTINCT FROM m.prio AND s.v = m.v)
      SELECT prio, qv,
             NTILE(10) OVER (PARTITION BY prio ORDER BY qv, v)
               AS tile
      FROM rowmap) t
    GROUP BY t.prio, t.tile
    """,
    tags=("cleaning", "impute", "encoding", "qnorm"),
)
def impute_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+A6/M1+M2 in one tagged result (merged r2 q16+q17 to free
    driver prefix slots):

    * ``mean`` (``Main.scala:273-275``) — mean imputation via the
      scalar-subquery pattern (one agg job, broadcast back — no driver
      round-trip). Dirt: every linenumber-3 quantity becomes NULL.
    * ``mode`` (``Main.scala:262-267``) — mode imputation with a
      deterministic tie-break (highest count, then smallest value).
      Dirt: every 7th order's priority becomes NULL.
    * ``loo`` — r5 session 5: leave-one-out target encoding of the
      same dirty priority against o_totalprice
      (operators.cleaning.target_encode_loo): group sum/count on a
      frame-less category window, global prior for singletons — the
      leakage-free mean encoding. Readout per category: n, rounded
      sum and mean of the encoded column; the oracle re-derives the
      per-row encoding end-to-end.
    * ``mest`` — r6: m-estimate shrinkage encoding of the same dirty
      priority (operators.cleaning.target_encode_m, m=10,
      Micci-Barreca 2001): (Σ_g y + m·prior)/(n_g + m) — rare
      categories encode near the global prior, frequent ones near
      their own mean; the train-fit/eval-apply companion to LOO's
      per-row exclusion. Same readout shape, fully oracle-re-derived.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dirty = li.select(
        F.when(F.col("l_linenumber") == 3, F.lit(None).cast("double"))
        .otherwise(F.col("l_quantity")).alias("q"))
    flagged = dirty.withColumn("was_null", F.col("q").isNull())
    mean_row = impute_mean(flagged, ["q"]).agg(
        fround(F.sum("q")).alias("sum_imputed"),
        fround(F.avg("q")).alias("avg_imputed"),
        F.sum(F.col("was_null").cast("long")).alias("n_was_null"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        F.lit("mean").alias("part"),
        F.lit(None).cast("string").alias("prio"),
        F.lit(None).cast("long").alias("n"),
        "sum_imputed", "avg_imputed", "n_was_null", "n_rows")

    orders = load_table(spark, sf_dir, "orders")
    dirty_prio = orders.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderpriority")).alias("prio"))
    mode_rows = (impute_mode(dirty_prio, ["prio"])
                 .groupBy("prio")
                 .agg(F.count(F.lit(1)).alias("n"))
                 .select(F.lit("mode").alias("part"), "prio", "n",
                         F.lit(None).cast("double").alias("sum_imputed"),
                         F.lit(None).cast("double").alias("avg_imputed"),
                         F.lit(None).cast("long").alias("n_was_null"),
                         F.lit(None).cast("long").alias("n_rows")))

    from ..operators.cleaning import target_encode_loo

    dte = orders.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderpriority")).alias("prio"),
        F.col("o_totalprice").alias("y"))
    # sum_imputed NULL for loo too (r7, the mest lesson): Σte at
    # ~1e10 magnitude drifted past the 4 dp grid at sf0.1; the mean
    # carries the check
    loo_rows = (target_encode_loo(dte, "prio", "y")
                .groupBy("prio")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.lit(None).cast("double").alias("sum_imputed"),
                     fround(F.avg("te")).alias("avg_imputed"))
                .select(F.lit("loo").alias("part"), "prio", "n",
                        "sum_imputed", "avg_imputed",
                        F.lit(None).cast("long").alias("n_was_null"),
                        F.lit(None).cast("long").alias("n_rows")))

    from ..operators.cleaning import target_encode_m

    # sum_imputed stays NULL for mest: te is constant per group, so
    # the sum is n·te at ~1e8 magnitude where window-partial ulp
    # drift crosses the 4 dp grid (the q07 cmat scaling lesson); the
    # mean IS the encoding and carries the whole check
    mest_rows = (target_encode_m(dte, "prio", "y", m=10.0)
                 .groupBy("prio")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.lit(None).cast("double").alias("sum_imputed"),
                      fround(F.avg("te")).alias("avg_imputed"))
                 .select(F.lit("mest").alias("part"), "prio", "n",
                         "sum_imputed", "avg_imputed",
                         F.lit(None).cast("long").alias("n_was_null"),
                         F.lit(None).cast("long").alias("n_rows")))
    from pyspark.sql import Window as W

    from ..operators.cleaning import quantile_normalize

    # qnorm (r7): quantile-normalize o_totalprice per dirty priority
    # onto the GLOBAL price distribution (cross-source calibration).
    # All-integer rank mapping (operator docstring), so the readout
    # — per-(prio, ntile-of-mapped) counts, max, mean — is the whole
    # mapping re-derived by the oracle end-to-end.
    qn_src = orders.select(
        F.when(F.col("o_orderkey") % 7 == 0,
               F.lit(None).cast("string"))
        .otherwise(F.col("o_orderpriority")).alias("prio"),
        F.col("o_totalprice").alias("v"))
    wq = W.partitionBy("prio").orderBy("qv", "v")
    qn_rows = (quantile_normalize(qn_src, ["prio"], "v", out_col="qv")
               .withColumn("tile", F.ntile(10).over(wq))
               .groupBy("prio", "tile")
               .agg(F.count(F.lit(1)).alias("n"),
                    fround(F.max("qv")).alias("mx"),
                    fround(F.avg("qv")).alias("a"))
               .select(F.lit("qnorm").alias("part"), "prio", "n",
                       F.col("mx").alias("sum_imputed"),
                       F.col("a").alias("avg_imputed"),
                       F.col("tile").cast("long").alias("n_was_null"),
                       F.lit(None).cast("long").alias("n_rows")))
    return (mean_row.unionByName(mode_rows).unionByName(loo_rows)
            .unionByName(mest_rows).unionByName(qn_rows))


def _poisson_w_sql(u_expr: str) -> str:
    """Poisson(1) weight from a 32-bit hash as the SAME integer
    threshold comparisons the engine uses
    (operators.relational.POISSON1_THRESHOLDS)."""
    from ..operators.relational import POISSON1_THRESHOLDS
    terms = " + ".join(
        f"CASE WHEN {u_expr} >= {t} THEN 1 ELSE 0 END"
        for t in POISSON1_THRESHOLDS)
    return f"({terms})"


# r7 lane form: replicate b reads 32-bit lane (b % 4) of
# md5(salt : b//4 : id) — four replicates per digest, mirroring
# operators.relational.poisson_bootstrap_ci
_BOOT_W = _poisson_w_sql(
    "CAST(('0x' || substring(md5('boot:' || CAST((b // 4) AS VARCHAR) "
    "|| ':' || CAST(event_id AS VARCHAR)), 1 + 8 * (b % 4), 8)) "
    "AS BIGINT)")


# q62/q75 oracle legs, one per part tag. r8 (VERDICT r7 #5): the
# 18-leg experiment suite overloaded one driver slot past the
# auditability knee — one leg's hash risk condemned 17 unrelated
# operators and every leg inflated the scored bench. The suite now
# splits into q62 (the headline hash-split + the core estimators)
# and the remaining tests — q22_abtest_nonparam_extras +
# q75_abtest_trend_extras since the r10 split (VERDICT r9 #2) —
# each slot's oracle assembled from the same per-leg SQL.
_Q62_LEG_SQL: dict[str, str] = {
    "split": """
    WITH b AS (
      SELECT lang,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
      FROM documents)
    SELECT 'split' AS part, lang AS k1,
           CASE WHEN bucket < 80 THEN 'train' ELSE 'eval' END AS k2,
           CAST(COUNT(*) AS BIGINT) AS n1, CAST(NULL AS BIGINT) AS n2,
           CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
           CAST(NULL AS DOUBLE) AS v3
    FROM b GROUP BY 1, 2, 3
""",
    "ttest": """
    -- r5 session 4: Welch's t-test between the md5-assigned variants
    -- (operators.relational.welch_ttest) — same formula arrangement
    SELECT 'ttest', g.event_type, NULL, g.n_a, g.n_b,
           ROUND(g.mean_a - g.mean_b, 4),
           ROUND((g.mean_a - g.mean_b)
                 / sqrt(g.var_a / g.n_a + g.var_b / g.n_b), 4),
           ROUND(POWER(g.var_a / g.n_a + g.var_b / g.n_b, 2)
                 / (POWER(g.var_a / g.n_a, 2) / (g.n_a - 1)
                    + POWER(g.var_b / g.n_b, 2) / (g.n_b - 1)), 4)
    FROM (
      WITH v AS (
        SELECT event_type, value,
               CASE WHEN CAST(('0x' || substring(
                        md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 2 = 0
                    THEN 'a' ELSE 'b' END AS variant
        FROM events)
      SELECT event_type,
             CAST(COUNT(value) FILTER (variant = 'a') AS BIGINT) AS n_a,
             CAST(COUNT(value) FILTER (variant = 'b') AS BIGINT) AS n_b,
             AVG(value) FILTER (variant = 'a') AS mean_a,
             AVG(value) FILTER (variant = 'b') AS mean_b,
             VAR_SAMP(value) FILTER (variant = 'a') AS var_a,
             VAR_SAMP(value) FILTER (variant = 'b') AS var_b
      FROM v GROUP BY 1) g
""",
    "mwu": """
    -- r5 session 5: Mann-Whitney U over the same assignment
    -- (operators.relational.mann_whitney_u) — average ranks for
    -- ties, tie-corrected normal z, ranks/ties re-derived end-to-end
    SELECT 'mwu', g.event_type, NULL, g.n_a, g.n_b,
           ROUND(g.ra - g.n_a * (g.n_a + 1) / 2.0, 4),
           CASE WHEN g.n_a > 0 AND g.n_b > 0
                 AND g.n_a * g.n_b / 12.0
                     * ((g.n_a + g.n_b + 1)
                        - g.ties / ((g.n_a + g.n_b)
                                    * (g.n_a + g.n_b - 1.0))) > 0
                THEN ROUND(
                  (g.ra - g.n_a * (g.n_a + 1) / 2.0
                   - g.n_a * g.n_b / 2.0)
                  / sqrt(g.n_a * g.n_b / 12.0
                         * ((g.n_a + g.n_b + 1)
                            - g.ties / ((g.n_a + g.n_b)
                                        * (g.n_a + g.n_b - 1.0)))), 4)
           END,
           NULL
    FROM (
      WITH v2 AS (
        SELECT event_type, value,
               CASE WHEN CAST(('0x' || substring(
                        md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 2 = 0
                    THEN 'a' ELSE 'b' END AS variant
        FROM events WHERE value IS NOT NULL),
      r AS (
        SELECT event_type, variant,
               RANK() OVER (PARTITION BY event_type ORDER BY value)
                 + (COUNT(*) OVER (PARTITION BY event_type, value)
                    - 1) / 2.0 AS rk,
               POWER(COUNT(*) OVER (PARTITION BY event_type, value),
                     2) - 1.0 AS tr
        FROM v2)
      SELECT event_type,
             CAST(COUNT(*) FILTER (variant = 'a') AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (variant = 'b') AS BIGINT) AS n_b,
             SUM(rk) FILTER (variant = 'a') AS ra,
             SUM(tr) AS ties
      FROM r GROUP BY 1) g
""",
    "ks": """
    -- r6: two-sample Kolmogorov-Smirnov over the same assignment
    -- (operators.relational.ks_test) — running ECDFs over the
    -- distinct-value table, D = max gap, first-term Kolmogorov p
    SELECT 'ks', g.event_type, NULL, g.n_a, g.n_b,
           ROUND(g.d, 6),
           ROUND(g.d * sqrt(g.n_a * g.n_b
                            / CAST(g.n_a + g.n_b AS DOUBLE)), 6),
           ROUND(LEAST(1.0, 2.0 * EXP(
               -2.0 * POWER(g.d * sqrt(g.n_a * g.n_b
                            / CAST(g.n_a + g.n_b AS DOUBLE)), 2))), 6)
    FROM (
      WITH v4 AS (
        SELECT event_type, value,
               CASE WHEN CAST(('0x' || substring(
                        md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 2 = 0
                    THEN 'a' ELSE 'b' END AS variant
        FROM events WHERE value IS NOT NULL),
      vc4 AS (
        SELECT event_type, value,
               CAST(COUNT(*) FILTER (variant = 'a') AS DOUBLE) AS ca,
               CAST(COUNT(*) FILTER (variant = 'b') AS DOUBLE) AS cb
        FROM v4 GROUP BY 1, 2),
      cum4 AS (
        SELECT event_type,
               SUM(ca) OVER (PARTITION BY event_type ORDER BY value
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS fa,
               SUM(cb) OVER (PARTITION BY event_type ORDER BY value
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS fb,
               SUM(ca) OVER (PARTITION BY event_type) AS na,
               SUM(cb) OVER (PARTITION BY event_type) AS nb
        FROM vc4)
      SELECT event_type,
             CAST(MAX(na) AS BIGINT) AS n_a,
             CAST(MAX(nb) AS BIGINT) AS n_b,
             MAX(ABS(fa / na - fb / nb)) AS d
      FROM cum4 GROUP BY 1) g
""",
    "chi2": """
    -- r5 session 5: chi-squared independence of event_type x variant
    -- (operators.relational.chi2_independence) — zero cells folded in
    -- via the chi2 = n + SUM((o-e)^2/e - e) identity on BOTH engines
    SELECT 'chi2', NULL, NULL, g.n, g.dof, ROUND(g.chi2, 4),
           NULL, NULL
    FROM (
      WITH v3 AS (
        SELECT event_type,
               CASE WHEN CAST(('0x' || substring(
                        md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 2 = 0
                    THEN 'a' ELSE 'b' END AS variant
        FROM events
        WHERE event_type IS NOT NULL),
      cells AS (
        SELECT event_type, variant, CAST(COUNT(*) AS DOUBLE) AS o
        FROM v3 GROUP BY 1, 2),
      sc AS (
        SELECT o,
               SUM(o) OVER (PARTITION BY event_type)
                 * SUM(o) OVER (PARTITION BY variant)
                 / SUM(o) OVER () AS e,
               event_type, variant
        FROM cells)
      SELECT SUM((o - e) * (o - e) / e - e) + SUM(o) AS chi2,
             CAST((COUNT(DISTINCT event_type) - 1)
                  * (COUNT(DISTINCT variant) - 1) AS BIGINT) AS dof,
             CAST(SUM(o) AS BIGINT) AS n
      FROM sc) g
""",
    "wins": """
    -- r5 session 5: winsorized metric readout per event_type
    -- (operators.relational.winsorize over exact_percentiles) — the
    -- exact interpolated 5%/95% caps re-derived via the same
    -- distinct-value position construction, no engine quantile builtin
    SELECT 'wins', g.event_type, NULL, g.n, g.nc,
           ROUND(g.lo, 4), ROUND(g.hi, 4), ROUND(g.wmean, 4)
    FROM (
      WITH vc AS (
        SELECT event_type, value AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      pos AS (
        SELECT event_type, v, c,
               SUM(c) OVER (PARTITION BY event_type ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - c AS s,
               SUM(c) OVER (PARTITION BY event_type) AS n
        FROM vc),
      caps AS (
        SELECT event_type,
          MAX(CASE WHEN s <= floor((n-1)*0.05)
                    AND floor((n-1)*0.05) < s + c THEN v END) AS lo1,
          MAX(CASE WHEN s <= ceil((n-1)*0.05)
                    AND ceil((n-1)*0.05) < s + c THEN v END) AS lo2,
          MAX(CASE WHEN s <= floor((n-1)*0.05)
                    AND floor((n-1)*0.05) < s + c
              THEN (n-1)*0.05 - floor((n-1)*0.05) END) AS lof,
          MAX(CASE WHEN s <= floor((n-1)*0.95)
                    AND floor((n-1)*0.95) < s + c THEN v END) AS hi1,
          MAX(CASE WHEN s <= ceil((n-1)*0.95)
                    AND ceil((n-1)*0.95) < s + c THEN v END) AS hi2,
          MAX(CASE WHEN s <= floor((n-1)*0.95)
                    AND floor((n-1)*0.95) < s + c
              THEN (n-1)*0.95 - floor((n-1)*0.95) END) AS hif
        FROM pos GROUP BY 1),
      cc AS (
        SELECT event_type, lo1 + lof * (lo2 - lo1) AS lo,
               hi1 + hif * (hi2 - hi1) AS hi
        FROM caps)
      SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN e.value < cc.lo OR e.value > cc.hi
                           THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             ANY_VALUE(cc.lo) AS lo, ANY_VALUE(cc.hi) AS hi,
             AVG(LEAST(GREATEST(e.value, cc.lo), cc.hi)) AS wmean
      FROM events e JOIN cc USING (event_type)
      WHERE e.value IS NOT NULL
      GROUP BY 1) g
""",
    "boot": f"""
    -- r5 session 5: Poisson-bootstrap CI for the A/B mean difference
    -- (operators.relational.poisson_bootstrap_ci) — every replicate
    -- weight re-derived from the same integer md5 thresholds, diffs
    -- rounded BEFORE the percentile selection, caps via the same
    -- position construction as the wins part
    SELECT 'boot', NULL, NULL, g.neff, NULL,
           ROUND(g.diff_obs, 4), ROUND(g.lo, 4), ROUND(g.hi, 4)
    FROM (
      WITH bd AS (
        SELECT b.b AS b, e.event_id, e.value,
               CASE WHEN CAST(('0x' || substring(
                        md5('ab:' || CAST(e.user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 2 = 0
                    THEN 'a' ELSE 'b' END AS variant
        FROM events e
        CROSS JOIN (SELECT unnest(generate_series(0, 49)) AS b) b
        WHERE e.value IS NOT NULL),
      bw AS (
        SELECT b, value, variant, {_BOOT_W} AS w FROM bd),
      reps AS (
        SELECT b,
               SUM(CASE WHEN variant = 'a' THEN w * value END) AS sa,
               SUM(CASE WHEN variant = 'a' THEN CAST(w AS DOUBLE) END)
                 AS na,
               SUM(CASE WHEN variant = 'b' THEN w * value END) AS sb,
               SUM(CASE WHEN variant = 'b' THEN CAST(w AS DOUBLE) END)
                 AS nb
        FROM bw GROUP BY 1),
      diffs AS (
        SELECT ROUND(sa / na - sb / nb, 4) AS diff
        FROM reps WHERE na > 0 AND nb > 0),
      vc2 AS (SELECT diff AS v, CAST(COUNT(*) AS BIGINT) AS c
              FROM diffs GROUP BY 1),
      pos2 AS (
        SELECT v, c,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) - c AS s,
               SUM(c) OVER () AS n
        FROM vc2),
      caps2 AS (
        SELECT
          MAX(CASE WHEN s <= floor((n-1)*0.025)
                    AND floor((n-1)*0.025) < s + c THEN v END) AS lo1,
          MAX(CASE WHEN s <= ceil((n-1)*0.025)
                    AND ceil((n-1)*0.025) < s + c THEN v END) AS lo2,
          MAX(CASE WHEN s <= floor((n-1)*0.025)
                    AND floor((n-1)*0.025) < s + c
              THEN (n-1)*0.025 - floor((n-1)*0.025) END) AS lof,
          MAX(CASE WHEN s <= floor((n-1)*0.975)
                    AND floor((n-1)*0.975) < s + c THEN v END) AS hi1,
          MAX(CASE WHEN s <= ceil((n-1)*0.975)
                    AND ceil((n-1)*0.975) < s + c THEN v END) AS hi2,
          MAX(CASE WHEN s <= floor((n-1)*0.975)
                    AND floor((n-1)*0.975) < s + c
              THEN (n-1)*0.975 - floor((n-1)*0.975) END) AS hif
        FROM pos2),
      obs AS (
        SELECT AVG(CASE WHEN variant = 'a' THEN value END)
               - AVG(CASE WHEN variant = 'b' THEN value END) AS d
        FROM bd WHERE b = 0),
      neff AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM diffs)
      SELECT neff.n AS neff, obs.d AS diff_obs,
             caps2.lo1 + caps2.lof * (caps2.lo2 - caps2.lo1) AS lo,
             caps2.hi1 + caps2.hif * (caps2.hi2 - caps2.hi1) AS hi
      FROM neff, obs, caps2) g
""",
    "iso": """
    -- r6 (VERDICT r5 #5): isotonic regression driver row. PAV itself
    -- is iterative, but the FIT it converges to has a closed-form SQL
    -- characterization — the minimax formula (Barlow et al. 1972):
    --   fit[k] = min over j>=k of (max over i<=k of mean(y[i..j]))
    -- O(m^2) via two windows over interval means from prefix sums;
    -- exact (pinned against the operator's PAV in test_regression).
    SELECT 'iso', g.grp, NULL, CAST(g.x AS BIGINT), g.n,
           ROUND(g.ym, 4), ROUND(g.y_iso, 4), CAST(NULL AS DOUBLE)
    FROM (
      WITH iraw AS (
        SELECT o_orderpriority AS grp,
               (EXTRACT(year FROM o_orderdate) - 1995) * 12
                 + EXTRACT(month FROM o_orderdate) - 1 AS x,
               o_totalprice AS y
        FROM orders WHERE o_totalprice IS NOT NULL),
      ipooled AS (
        SELECT grp, x, AVG(y) AS ym, CAST(COUNT(*) AS BIGINT) AS n,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x) AS rn
        FROM iraw GROUP BY grp, x),
      ipref AS (
        SELECT *, SUM(ym) OVER (PARTITION BY grp ORDER BY rn) AS sy
        FROM ipooled),
      ipairs AS (
        SELECT a.grp, a.rn AS i, b.rn AS j,
               (b.sy - a.sy + a.ym) / (b.rn - a.rn + 1) AS m
        FROM ipref a JOIN ipref b ON a.grp = b.grp AND a.rn <= b.rn),
      icmax AS (
        SELECT grp, j, i,
               MAX(m) OVER (PARTITION BY grp, j ORDER BY i) AS mx
        FROM ipairs),
      ifit AS (
        SELECT grp, i AS rn, MIN(mx) AS y_iso
        FROM icmax GROUP BY grp, i)
      SELECT p.grp, p.x, p.n, p.ym, f.y_iso
      FROM ipooled p JOIN ifit f ON p.grp = f.grp AND p.rn = f.rn) g
""",
    "ols": """
    -- r6: per-event-type OLS trend of the hourly mean metric — the
    -- same five sufficient sums the engine aggregates, closed form
    SELECT 'ols', g.grp, NULL, g.n, NULL,
           ROUND(g.slope, 6), ROUND(g.icept, 6), ROUND(g.r2, 6)
    FROM (
      WITH hr AS (
        SELECT event_type AS grp,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 10800)
                    - 157784 AS DOUBLE) AS x,
               AVG(value) AS y
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      s AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM hr GROUP BY grp)
      SELECT grp, n,
             CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
             END AS slope,
             (sy - CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0
                        THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                   END * sx) / n AS icept,
             CASE WHEN n * syy - sy * sy <> 0
                  THEN POWER(CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0
                             THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                             END, 2) * (n * sxx - sx * sx)
                       / (n * syy - sy * sy)
                  WHEN n >= 2 AND n * sxx - sx * sx <> 0 THEN 1.0
             END AS r2
      FROM s) g
""",
    "theil": """
    -- r6: Theil–Sen robust slope — median of pairwise slopes, each
    -- rounded to 9 dp BEFORE the order statistic (both engines pick
    -- the identical middle pair)
    SELECT 'theil', g.grp, NULL, g.n_points, g.n_pairs,
           ROUND(g.slope, 6), NULL, NULL
    FROM (
      WITH hr AS (
        SELECT event_type AS grp,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 10800)
                    - 157784 AS DOUBLE) AS x,
               AVG(value) AS y
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      sl AS (
        SELECT a.grp, ROUND((b.y - a.y) / (b.x - a.x), 9) AS s
        FROM hr a JOIN hr b ON a.grp = b.grp AND a.x < b.x),
      np AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_points
             FROM hr GROUP BY grp),
      md AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                    MEDIAN(s) AS slope
             FROM sl GROUP BY grp)
      SELECT np.grp, np.n_points, COALESCE(md.n_pairs, 0) AS n_pairs,
             md.slope
      FROM np LEFT JOIN md USING (grp)) g
""",
    "mk": """
    -- r6: Mann-Kendall trend test over the same hourly series — S
    -- from the pair join, tie-corrected variance, continuity-
    -- corrected z
    SELECT 'mk', g.grp, NULL, g.n, g.s, ROUND(g.z, 6), NULL, NULL
    FROM (
      WITH hr AS (
        SELECT event_type AS grp,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 10800)
                    - 157784 AS DOUBLE) AS x,
               AVG(value) AS y
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      sp AS (SELECT a.grp, SUM(SIGN(b.y - a.y)) AS sraw
             FROM hr a JOIN hr b ON a.grp = b.grp AND a.x < b.x
             GROUP BY 1),
      nn AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM hr
             GROUP BY 1),
      tt AS (SELECT grp, SUM(t * (t - 1) * (2 * t + 5)) AS tie
             FROM (SELECT grp, y, CAST(COUNT(*) AS DOUBLE) AS t
                   FROM hr GROUP BY 1, 2) GROUP BY 1),
      vv AS (SELECT nn.grp, nn.n,
                    CAST(COALESCE(sp.sraw, 0) AS BIGINT) AS s,
                    (CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5)
                     - tt.tie) / 18.0 AS var_s
             FROM nn LEFT JOIN sp USING (grp) JOIN tt USING (grp))
      SELECT grp, n, s,
             CASE WHEN var_s <= 0 THEN NULL
                  WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                  WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                  ELSE 0.0 END AS z
      FROM vv) g
""",
    "benford": """
    -- r6: Benford first-significant-digit profile of the order
    -- amounts — d = floor(x / 10^floor(log10 x)), expected
    -- n*log10(1+1/d), per-digit chi-square contribution
    SELECT 'benford', CAST(g.digit AS VARCHAR), NULL, g.n_obs, NULL,
           ROUND(g.expected, 4), ROUND(g.contrib, 6), NULL
    FROM (
      WITH pos AS (SELECT o_totalprice AS x FROM orders
                   WHERE o_totalprice > 0),
      ob AS (SELECT CAST(floor(x / POWER(10.0, floor(log10(x))))
                         AS BIGINT) AS digit,
                    CAST(COUNT(*) AS BIGINT) AS n_obs
             FROM pos GROUP BY 1),
      tot AS (SELECT CAST(SUM(n_obs) AS DOUBLE) AS n FROM ob),
      dg AS (SELECT unnest(generate_series(1, 9)) AS digit)
      SELECT dg.digit, COALESCE(ob.n_obs, 0) AS n_obs,
             tot.n * log10(1.0 + 1.0 / dg.digit) AS expected,
             POWER(COALESCE(ob.n_obs, 0)
                   - tot.n * log10(1.0 + 1.0 / dg.digit), 2)
               / (tot.n * log10(1.0 + 1.0 / dg.digit)) AS contrib
      FROM dg LEFT JOIN ob USING (digit) CROSS JOIN tot) g
""",
    "anova": """
    -- r7: one-way ANOVA across event types on the cent-quantized
    -- metric (operators.relational.anova_oneway) — exact int64
    -- sufficient statistics, closed forms mirrored verbatim; ss in
    -- original units (grid 100² divided out), F scale-invariant
    SELECT 'anova', NULL, NULL, g.k, g.n,
           ROUND(g.ssb / 10000.0, 3), ROUND(g.ssw / 10000.0, 3),
           CASE WHEN g.k > 1 AND g.n > g.k AND g.ssw > 0
                THEN ROUND((g.ssb / (g.k - 1))
                           / (g.ssw / (g.n - g.k)), 6) END
    FROM (
      WITH aq AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL),
      ag AS (
        SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(v) AS DOUBLE) AS s,
               CAST(SUM(v * v) AS DOUBLE) AS q
        FROM aq GROUP BY 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n,
             SUM(s * s / n) - SUM(s) * SUM(s) / SUM(n) AS ssb,
             SUM(q - s * s / n) AS ssw
      FROM ag) g
""",
    "bh": """
    -- r7: Benjamini-Hochberg step-up over the per-event-type KS
    -- p-values (operators.relational.bh_adjust, alpha 0.05) — ranks
    -- on the 6 dp-rounded p with event_type tiebreak;
    -- p_adj = capped suffix-min of m·p/rank
    SELECT 'bh', g.event_type, NULL, g.bh_rank, NULL,
           g.p, ROUND(g.p_adj, 6),
           CASE WHEN g.p_adj <= 0.05 THEN 1.0 ELSE 0.0 END
    FROM (
      WITH v5 AS (
        SELECT event_type, value,
               CASE WHEN CAST(('0x' || substring(
                        md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 2 = 0
                    THEN 'a' ELSE 'b' END AS variant
        FROM events WHERE value IS NOT NULL),
      vc5 AS (
        SELECT event_type, value,
               CAST(COUNT(*) FILTER (variant = 'a') AS DOUBLE) AS ca,
               CAST(COUNT(*) FILTER (variant = 'b') AS DOUBLE) AS cb
        FROM v5 GROUP BY 1, 2),
      cum5 AS (
        SELECT event_type,
               SUM(ca) OVER (PARTITION BY event_type ORDER BY value
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS fa,
               SUM(cb) OVER (PARTITION BY event_type ORDER BY value
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS fb,
               SUM(ca) OVER (PARTITION BY event_type) AS na,
               SUM(cb) OVER (PARTITION BY event_type) AS nb
        FROM vc5),
      kp AS (
        SELECT event_type,
               ROUND(LEAST(1.0, 2.0 * EXP(
                 -2.0 * POWER(MAX(ABS(fa / na - fb / nb))
                              * sqrt(MAX(na) * MAX(nb)
                                     / (MAX(na) + MAX(nb))), 2))), 6)
                 AS p
        FROM cum5 GROUP BY 1),
      rk AS (
        SELECT event_type, p,
               ROW_NUMBER() OVER (ORDER BY p, event_type) AS bh_rank,
               COUNT(*) OVER () AS m
        FROM kp)
      SELECT event_type, p, bh_rank,
             LEAST(1.0, MIN(m * p / bh_rank) OVER (
                 ORDER BY bh_rank DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS p_adj
      FROM rk) g
""",
    "cuped": """
    -- r7 session 3: CUPED variance reduction
    -- (operators.relational.cuped_estimate) — per-user pre/post means
    -- quantized to milli-dollars, one exact-BIGINT sufficient-stats
    -- aggregate, fixed all-double readout tree (operator docstring)
    SELECT 'cuped', NULL, NULL, g.n_a, g.n_b,
           ROUND(g.theta, 4),
           ROUND(g.raw_eff / 1000.0, 4),
           ROUND(g.adj_eff / 1000.0, 4)
    FROM (
      WITH ex6 AS (
        SELECT user_id,
               CASE WHEN CAST(('0x' || substring(
                        md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 2 = 0
                    THEN 'a' ELSE 'b' END AS variant,
               CAST(ROUND(value * 100) AS BIGINT) AS vq,
               ts >= TIMESTAMP '2024-01-16 00:00:00' AS is_post
        FROM events WHERE value IS NOT NULL),
      pu6 AS (
        SELECT variant,
               CAST(ROUND(SUM(CASE WHEN NOT is_post THEN vq END)
                          / SUM(CASE WHEN NOT is_post THEN 1 ELSE 0 END)
                          * 10) AS BIGINT) AS xq,
               CAST(ROUND(SUM(CASE WHEN is_post THEN vq END)
                          / SUM(CASE WHEN is_post THEN 1 ELSE 0 END)
                          * 10) AS BIGINT) AS yq
        FROM ex6 GROUP BY user_id, variant
        HAVING SUM(CASE WHEN NOT is_post THEN 1 ELSE 0 END) > 0
           AND SUM(CASE WHEN is_post THEN 1 ELSE 0 END) > 0),
      st6 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN variant = 'a' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN variant = 'b' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
               CAST(SUM(xq) AS DOUBLE) AS sx,
               CAST(SUM(yq) AS DOUBLE) AS sy,
               CAST(SUM(xq * xq) AS DOUBLE) AS sxx,
               CAST(SUM(xq * yq) AS DOUBLE) AS sxy,
               CAST(SUM(yq * yq) AS DOUBLE) AS syy,
               CAST(SUM(CASE WHEN variant = 'a' THEN xq ELSE 0 END)
                    AS DOUBLE) AS sx_a,
               CAST(SUM(CASE WHEN variant = 'a' THEN yq ELSE 0 END)
                    AS DOUBLE) AS sy_a,
               CAST(SUM(CASE WHEN variant = 'b' THEN xq ELSE 0 END)
                    AS DOUBLE) AS sx_b,
               CAST(SUM(CASE WHEN variant = 'b' THEN yq ELSE 0 END)
                    AS DOUBLE) AS sy_b
        FROM pu6),
      rd6 AS (
        SELECT n, n_a, n_b,
               (sxy - sx * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                 AS cov,
               (sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                 AS var_x,
               (syy - sy * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                 AS var_y,
               CASE WHEN n_a > 0 THEN sy_a / n_a END
                 - CASE WHEN n_b > 0 THEN sy_b / n_b END AS raw_eff,
               CASE WHEN n_a > 0 THEN sx_a / n_a END
                 - CASE WHEN n_b > 0 THEN sx_b / n_b END AS x_diff
        FROM st6)
      SELECT n_a, n_b,
             CASE WHEN var_x > 0 THEN cov / var_x END AS theta,
             raw_eff,
             raw_eff - CASE WHEN var_x > 0 THEN cov / var_x END * x_diff
               AS adj_eff
      FROM rd6) g
""",
    "cuped_var": """
    -- r7 session 3: CUPED variance readout (same chain) —
    -- var(Y_adj) = var(Y) − cov²/var(X), reduction = 100·corr²(X,Y)
    SELECT 'cuped_var', NULL, NULL, g.n, NULL,
           ROUND(g.var_y / 1000000.0, 4),
           ROUND(CASE WHEN g.var_x > 0
                      THEN g.var_y - g.cov * g.cov / g.var_x END
                 / 1000000.0, 4),
           ROUND(CASE WHEN g.var_x > 0 AND g.var_y > 0
                      THEN 100.0 * (g.cov * g.cov
                                    / (g.var_x * g.var_y)) END, 4)
    FROM (
      WITH ex7 AS (
        SELECT user_id,
               CASE WHEN CAST(('0x' || substring(
                        md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 2 = 0
                    THEN 'a' ELSE 'b' END AS variant,
               CAST(ROUND(value * 100) AS BIGINT) AS vq,
               ts >= TIMESTAMP '2024-01-16 00:00:00' AS is_post
        FROM events WHERE value IS NOT NULL),
      pu7 AS (
        SELECT variant,
               CAST(ROUND(SUM(CASE WHEN NOT is_post THEN vq END)
                          / SUM(CASE WHEN NOT is_post THEN 1 ELSE 0 END)
                          * 10) AS BIGINT) AS xq,
               CAST(ROUND(SUM(CASE WHEN is_post THEN vq END)
                          / SUM(CASE WHEN is_post THEN 1 ELSE 0 END)
                          * 10) AS BIGINT) AS yq
        FROM ex7 GROUP BY user_id, variant
        HAVING SUM(CASE WHEN NOT is_post THEN 1 ELSE 0 END) > 0
           AND SUM(CASE WHEN is_post THEN 1 ELSE 0 END) > 0),
      st7 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xq) AS DOUBLE) AS sx,
               CAST(SUM(yq) AS DOUBLE) AS sy,
               CAST(SUM(xq * xq) AS DOUBLE) AS sxx,
               CAST(SUM(xq * yq) AS DOUBLE) AS sxy,
               CAST(SUM(yq * yq) AS DOUBLE) AS syy
        FROM pu7)
      SELECT n,
             (sxy - sx * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
               AS cov,
             (sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
               AS var_x,
             (syy - sy * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
               AS var_y
      FROM st7) g
""",
    "did": """
    -- r7 session 3: difference-in-differences over the 2×2
    -- variant × period design (operators.relational.diff_in_diff) —
    -- one 4-cell aggregate of exact cent sums, means as the same
    -- integer-ratio doubles, NULL if any cell is empty
    SELECT 'did', NULL, NULL, g.n_pre, g.n_post,
           ROUND((g.m_a_pre - g.m_b_pre) / 100.0, 4),
           ROUND((g.m_a_post - g.m_b_post) / 100.0, 4),
           ROUND(((g.m_a_post - g.m_a_pre)
                  - (g.m_b_post - g.m_b_pre)) / 100.0, 4)
    FROM (
      WITH ex8 AS (
        SELECT CASE WHEN CAST(('0x' || substring(
                        md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 2 = 0
                    THEN 'a' ELSE 'b' END AS variant,
               CAST(ROUND(value * 100) AS BIGINT) AS vq,
               ts >= TIMESTAMP '2024-01-16 00:00:00' AS is_post
        FROM events WHERE value IS NOT NULL),
      cl8 AS (
        SELECT CAST(SUM(CASE WHEN variant = 'a' AND NOT is_post
                             THEN vq ELSE 0 END) AS BIGINT) AS s_a_pre,
               CAST(SUM(CASE WHEN variant = 'a' AND NOT is_post
                             THEN 1 ELSE 0 END) AS BIGINT) AS c_a_pre,
               CAST(SUM(CASE WHEN variant = 'a' AND is_post
                             THEN vq ELSE 0 END) AS BIGINT) AS s_a_post,
               CAST(SUM(CASE WHEN variant = 'a' AND is_post
                             THEN 1 ELSE 0 END) AS BIGINT) AS c_a_post,
               CAST(SUM(CASE WHEN variant = 'b' AND NOT is_post
                             THEN vq ELSE 0 END) AS BIGINT) AS s_b_pre,
               CAST(SUM(CASE WHEN variant = 'b' AND NOT is_post
                             THEN 1 ELSE 0 END) AS BIGINT) AS c_b_pre,
               CAST(SUM(CASE WHEN variant = 'b' AND is_post
                             THEN vq ELSE 0 END) AS BIGINT) AS s_b_post,
               CAST(SUM(CASE WHEN variant = 'b' AND is_post
                             THEN 1 ELSE 0 END) AS BIGINT) AS c_b_post
        FROM ex8)
      SELECT c_a_pre + c_b_pre AS n_pre,
             c_a_post + c_b_post AS n_post,
             CASE WHEN c_a_pre > 0 THEN s_a_pre / c_a_pre END AS m_a_pre,
             CASE WHEN c_a_post > 0 THEN s_a_post / c_a_post END
               AS m_a_post,
             CASE WHEN c_b_pre > 0 THEN s_b_pre / c_b_pre END AS m_b_pre,
             CASE WHEN c_b_post > 0 THEN s_b_post / c_b_post END
               AS m_b_post
      FROM cl8) g
""",
    "strat": """
    -- r7 session 3: post-stratification estimator
    -- (operators.relational.post_stratified_effect) — per-stratum
    -- mean diffs micro-quantized (×10⁴ on cents), cross-stratum
    -- weighted sum in exact BIGINTs; strata observed in one variant
    -- only are excluded from both the sum and N
    SELECT 'strat', NULL, NULL, g.n_strata, g.n_events,
           ROUND(g.effect_q / g.n_events / 1000000.0, 4), NULL, NULL
    FROM (
      WITH ex9 AS (
        SELECT event_type,
               CASE WHEN CAST(('0x' || substring(
                        md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 2 = 0
                    THEN 'a' ELSE 'b' END AS variant,
               CAST(ROUND(value * 100) AS BIGINT) AS vq
        FROM events WHERE value IS NOT NULL),
      ps9 AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN variant = 'a' THEN vq ELSE 0 END)
                    AS BIGINT) AS s_a,
               CAST(SUM(CASE WHEN variant = 'a' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN variant = 'b' THEN vq ELSE 0 END)
                    AS BIGINT) AS s_b,
               CAST(SUM(CASE WHEN variant = 'b' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b
        FROM ex9 GROUP BY 1),
      bt9 AS (
        SELECT CAST(ROUND((s_a / n_a - s_b / n_b) * 10000) AS BIGINT)
                 AS dq,
               n_a + n_b AS n_s
        FROM ps9 WHERE n_a > 0 AND n_b > 0)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
             CAST(SUM(n_s) AS BIGINT) AS n_events,
             CAST(SUM(dq * n_s) AS BIGINT) AS effect_q
      FROM bt9) g
""",
}

Q62_PARTS = ('split', 'ttest', 'chi2', 'iso', 'anova', 'cuped', 'cuped_var', 'did')
# r10 (VERDICT r9 #2): the 10-part q75_abtest_extras was the only
# slot that could never rotate into the driver's checked prefix under
# the 8-part audit cap. It splits into two 5-part slots along the
# natural seam: the nonparametric/resampling readouts (rank, ECDF,
# winsorized, bootstrap, FDR correction) vs the trend/structure
# readouts (OLS, Theil-Sen, Mann-Kendall, Benford, post-strat).
Q22_PARTS = ('mwu', 'ks', 'wins', 'boot', 'bh')
Q75_PARTS = ('ols', 'theil', 'mk', 'benford', 'strat')


def _legs_oracle(tags) -> str:
    # positional aliasing: only the original union's first leg carried
    # column aliases, so any slot whose first leg differs needs names
    # imposed from outside
    union = "\n    UNION ALL\n".join(_Q62_LEG_SQL[t] for t in tags)
    # explicit casts: a slot whose first leg emits a bare NULL for a
    # column would otherwise type it INTEGER and drift from the
    # engine schema (tests/test_oracle_types.py)
    return (f"SELECT CAST(part AS VARCHAR) AS part,"
            f" CAST(k1 AS VARCHAR) AS k1, CAST(k2 AS VARCHAR) AS k2,"
            f" CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,"
            f" CAST(v1 AS DOUBLE) AS v1, CAST(v2 AS DOUBLE) AS v2,"
            f" CAST(v3 AS DOUBLE) AS v3 FROM (\n{union}\n"
            f"    ) u(part, k1, k2, n1, n2, v1, v2, v3)")


@register(
    "q62_deterministic_hash_split",
    oracle=_legs_oracle(Q62_PARTS),
    tags=("split", "sampling", "abtest", "isotonic", "anova",
          "causal", "cuped"),
    parts=Q62_PARTS,
)
def deterministic_split_query(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Experiment-infrastructure suite, HEADLINE slot: the
    reproducible md5 hash split plus the core A/B estimators —
    ``split`` (train/eval bucket counts per lang), ``ttest``
    (Welch), ``chi2`` (independence), ``iso`` (grouped isotonic
    calibration — the r5-verdict driver row), ``anova`` (one-way F,
    exact int64 grid), and the causal-adjustment trio
    ``cuped``/``cuped_var``/``did``. Leg construction and the
    per-leg design notes live in :func:`_experiment_suite_legs`;
    the companion tests moved to ``q22_abtest_nonparam_extras`` /
    ``q75_abtest_trend_extras`` (one slot until the r10 split; r8
    de-overload — VERDICT r7 #5).
    """
    legs = _experiment_suite_legs(spark, sf_dir)
    out = legs[Q62_PARTS[0]]
    for t in Q62_PARTS[1:]:
        out = out.unionByName(legs[t])
    return out


@register(
    "q22_abtest_nonparam_extras",
    oracle=_legs_oracle(Q22_PARTS),
    tags=("abtest", "rank", "ks", "winsorize", "bootstrap", "fdr"),
    parts=Q22_PARTS,
)
def abtest_nonparam_extras_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Experiment-infrastructure suite, nonparametric/resampling
    half (r10 split of q75_abtest_extras — VERDICT r9 #2): the
    Mann-Whitney U rank test (``mwu``), two-sample
    Kolmogorov-Smirnov (``ks``), winsorized metric readout
    (``wins``), Poisson-bootstrap CI (``boot``) and
    Benjamini-Hochberg FDR correction (``bh``) over the same
    md5-assigned variants as q62. Five part tags — prefix-eligible
    under the 8-part audit cap, and driver-checked from r10.
    Excluded from bench.py (its cost would re-pay the shared
    subtrees the r8 de-overload removed from the scored suite).
    """
    legs = _experiment_suite_legs(spark, sf_dir)
    out = legs[Q22_PARTS[0]]
    for t in Q22_PARTS[1:]:
        out = out.unionByName(legs[t])
    return out


@register(
    "q75_abtest_trend_extras",
    oracle=_legs_oracle(Q75_PARTS),
    tags=("abtest", "trend", "theil", "mannkendall", "benford",
          "stratified"),
    parts=Q75_PARTS,
)
def abtest_trend_extras_query(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Experiment-infrastructure suite, trend/structure half (r10
    split of q75_abtest_extras — VERDICT r9 #2): grouped OLS trend
    (``ols``), Theil-Sen slope (``theil``), Mann-Kendall test
    (``mk``), Benford first-digit audit (``benford``) and the
    post-stratification estimator (``strat``) over the same
    md5-assigned variants as q62. Companion slot this round (name
    sorts past the 50-entry prefix); five part tags make it
    prefix-eligible, scheduled to rotate in r11 (COVERAGE.md
    rotation table). Held green by tests/driver_sim.py (SELFCHECK)
    and tests/test_oracle_parity.py; excluded from bench.py (see
    q22's note).
    """
    legs = _experiment_suite_legs(spark, sf_dir)
    out = legs[Q75_PARTS[0]]
    for t in Q75_PARTS[1:]:
        out = out.unionByName(legs[t])
    return out


def _experiment_suite_legs(spark: SparkSession,
                           sf_dir: str) -> "dict[str, DataFrame]":
    """Per-leg builders for the q62/q75 experiment suites, tagged:

    * ``split`` — reproducible train/eval split on md5(doc_id) buckets
      (operators.cleaning.deterministic_split) — the oracle recomputes
      the SAME assignment, proving the split is engine-independent
      (the property randomSplit lacks). Counted per (lang, split).
    * ``ttest`` — r5 session 4: Welch's unequal-variance t-test
      (operators.relational.welch_ttest) between two variants assigned
      by the same salted-md5 machinery ('ab:' salt decorrelates from
      every other hash use), per event_type: n per arm, mean
      difference, t statistic, Welch degrees of freedom — the A/B
      readout whose assignment AND statistics the oracle reproduces
      end-to-end.
    * ``mwu`` — r5 session 5: Mann-Whitney U / Wilcoxon rank-sum over
      the same variants (operators.relational.mann_whitney_u):
      average ranks for ties from ONE partition-sort window, the tie
      term folded into the same grouped aggregate via
      Σ_rows(t²−1) = Σ_ties(t³−t), tie-corrected normal z. v1 = U_a,
      v2 = z — the nonparametric readout for skewed metrics, ranks
      and tie term oracle-reproduced end-to-end.
    * ``ks`` — r6: two-sample Kolmogorov-Smirnov over the same
      variants (operators.relational.ks_test): running ECDFs from one
      partition-sort window over the distinct-value table, D = max
      ECDF gap, λ = D·sqrt(n_a·n_b/n), p ≈ min(1, 2e^(−2λ²)) — the
      distribution-shape readout that catches variance/tail changes
      the mean (ttest) and rank (mwu) readouts miss. n1/n2 = arm
      sizes, v1 = D, v2 = λ, v3 = p (6 dp).
    * ``chi2`` — r5 session 5: Pearson chi-squared independence of
      event_type × variant (operators.relational.chi2_independence),
      zero cells folded in via χ² = n + Σ_obs((o−e)²/e − e) so no
      dense cell cross-join exists at any cardinality. n1 = n,
      n2 = dof, v1 = χ².
    * ``wins`` — r5 session 5: winsorized metric readout per
      event_type (operators.relational.winsorize): exact interpolated
      5%/95% caps from the distinct-value position construction
      (operators.relational.exact_percentiles — no data sort, no
      engine quantile builtin on either side), rows clamped, mean of
      the clamped metric. n1 = rows, n2 = capped, v1/v2 = caps,
      v3 = winsorized mean.
    * ``boot`` — r5 session 5: percentile-bootstrap CI for the A/B
      mean difference via the POISSON bootstrap
      (operators.relational.poisson_bootstrap_ci): each row draws a
      Poisson(1) weight per replicate from integer md5-threshold
      comparisons (the resampling that needs no global coordination
      — n_boot·rows map-side work, one tiny shuffle), replicate
      diffs round BEFORE the percentile selection, caps via the same
      position construction as ``wins``. n1 = effective replicates,
      v1 = observed diff, v2/v3 = the 95% interval.
    * ``iso`` — r6 (VERDICT r5 #5): grouped isotonic regression
      (operators.regression.isotonic_fit — per-priority monotone
      calibration of mean order value over the month index). The
      operator runs PAV; the oracle re-derives the identical fit from
      the closed-form minimax characterization
      fit[k] = min_{j≥k} max_{i≤k} mean(y[i..j]) (Barlow et al. 1972)
      — an EXACT SQL cross-check for an iterative algorithm, stronger
      than the pinned-literal route. n1 = month index, n2 = rows
      pooled, v1 = pooled mean, v2 = isotonic fit.
    * ``ols`` — r6: per-event-type OLS trend of the 3-hourly mean
      metric (operators.regression.grouped_ols): slope/intercept/r²
      from ONE grouped aggregate of the five sufficient sums — the
      metric-drift/monitoring workhorse; at scale it is one shuffle
      of 5 doubles per key. n1 = points, v1/v2/v3 =
      slope/intercept/r² (6 dp — slopes live at 1e-3 scale).
    * ``theil`` — r6: Theil–Sen robust slope over the same 3-hourly
      series (operators.regression.theil_sen_slope): exact median of
      pairwise slopes via the distinct-value position construction,
      slopes rounded 9 dp BEFORE the order statistic so both engines
      pick the identical middle pair. n1 = points, n2 = pairs,
      v1 = slope.
    * ``cuped``/``cuped_var`` — r7 session 3: CUPED variance
      reduction (operators.relational.cuped_estimate, Deng et al.
      2013): per-user pre-period mean as the covariate (milli-dollar
      quantized — keeps Σx² < 2^53 through sf1 so the exact BIGINT
      sufficient sums cast to double exactly on both engines), pooled
      θ = cov/var, adjusted effect and var(Y_adj) read off ONE
      aggregate algebraically — per-unit adjusted values never
      materialize. n1/n2 = arm unit counts (row 1) / n units (row 2),
      v = θ, raw effect, adjusted effect / var(Y), var(Y_adj),
      reduction %.
    * ``did`` — r7 session 3: difference-in-differences over the 2×2
      variant × mid-month-period design
      (operators.relational.diff_in_diff): one 4-cell aggregate of
      exact cent sums; the parallel-trends contrast
      (Δpost − Δpre) in dollars. n1/n2 = pre/post rows,
      v1/v2/v3 = pre diff, post diff, DiD.
    * ``strat`` — r7 session 3: post-stratification estimator
      (operators.relational.post_stratified_effect): per-event-type
      mean diffs micro-quantized, stratum-size-weighted sum runs in
      exact BIGINTs; one-variant strata excluded from sum and N.
      n1/n2 = strata used / events used, v1 = stratified effect.
    """
    from ..operators.cleaning import deterministic_split
    from ..operators.relational import (chi2_independence,
                                        mann_whitney_u, welch_ttest)

    docs = load_table(spark, sf_dir, "documents")
    out = deterministic_split(docs, "doc_id", train_pct=80)
    nullL = F.lit(None).cast("long")
    nullD = F.lit(None).cast("double")
    nullS = F.lit(None).cast("string")
    split = (out.groupBy("lang", "split")
             .agg(F.count(F.lit(1)).alias("n1"))
             .select(F.lit("split").alias("part"),
                     F.col("lang").alias("k1"),
                     F.col("split").alias("k2"), "n1",
                     nullL.alias("n2"), nullD.alias("v1"),
                     nullD.alias("v2"), nullD.alias("v3")))

    # r12 (VERDICT r11 #4): every estimator leg re-scanned events AND
    # re-ran the md5 variant assignment (a per-row md5+conv — the
    # single most expensive expression in the suite). Project to the
    # five columns any leg touches, compute the variant once, persist:
    # every leg below reads the cached narrow frame. Deliberately NO
    # repartition: the trend legs aggregate raw-double means
    # (avg(value) feeding Theil-Sen/Mann-Kendall pairwise signs), and
    # reordering the summation flips last-ulp ties against the oracle
    # (measured: q75 mk s_stat 434 vs 435 under a user_id
    # repartition) — the persisted frame keeps the scan's storage
    # order, so every float aggregate sums exactly as before.
    # Guide §2.4 (share the subtree) + §5 (persist only what is
    # reused).
    bucket = F.conv(F.substring(
        F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
        1, 8), 16, 10).cast("long") % 2
    events = cache.persist(
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "event_type", "ts", "value")
        .withColumn("variant", F.when(bucket == 0, "a").otherwise("b")))
    assigned = events
    tt = (welch_ttest(assigned, "variant", "value",
                      key_cols=["event_type"])
          .select(F.lit("ttest").alias("part"),
                  F.col("event_type").alias("k1"),
                  F.lit(None).cast("string").alias("k2"),
                  F.col("n_a").alias("n1"), F.col("n_b").alias("n2"),
                  fround(F.col("mean_diff")).alias("v1"),
                  fround(F.col("t_stat")).alias("v2"),
                  fround(F.col("dof")).alias("v3")))

    mw = (mann_whitney_u(assigned, "variant", "value",
                         key_cols=["event_type"])
          .select(F.lit("mwu").alias("part"),
                  F.col("event_type").alias("k1"),
                  F.lit(None).cast("string").alias("k2"),
                  F.col("n_a").alias("n1"), F.col("n_b").alias("n2"),
                  fround(F.col("u_stat")).alias("v1"),
                  fround(F.col("z_stat")).alias("v2"),
                  F.lit(None).cast("double").alias("v3")))

    from ..operators.relational import ks_test

    ks = (ks_test(assigned, "variant", "value",
                  key_cols=["event_type"])
          .select(F.lit("ks").alias("part"),
                  F.col("event_type").alias("k1"),
                  F.lit(None).cast("string").alias("k2"),
                  F.col("n_a").alias("n1"), F.col("n_b").alias("n2"),
                  F.round("d_stat", 6).alias("v1"),
                  F.round("ks_stat", 6).alias("v2"),
                  F.round("p_approx", 6).alias("v3")))

    c2 = (chi2_independence(assigned, "event_type", "variant")
          .select(F.lit("chi2").alias("part"),
                  F.lit(None).cast("string").alias("k1"),
                  F.lit(None).cast("string").alias("k2"),
                  F.col("n").alias("n1"), F.col("dof").alias("n2"),
                  fround(F.col("chi2")).alias("v1"),
                  F.lit(None).cast("double").alias("v2"),
                  F.lit(None).cast("double").alias("v3")))

    from ..operators.relational import winsorize

    wz = winsorize(events.filter(F.col("value").isNotNull()),
                   "value", 0.05, 0.95, key_cols=["event_type"])
    wins = (wz.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n1"),
                 F.sum(F.col("was_capped").cast("long")).alias("n2"),
                 fround(F.any_value("lo_cap")).alias("v1"),
                 fround(F.any_value("hi_cap")).alias("v2"),
                 fround(F.avg("winsorized")).alias("v3"))
            .select(F.lit("wins").alias("part"),
                    F.col("event_type").alias("k1"),
                    F.lit(None).cast("string").alias("k2"),
                    "n1", "n2", "v1", "v2", "v3"))
    from ..operators.relational import poisson_bootstrap_ci

    boot = (poisson_bootstrap_ci(assigned, "event_id", "variant",
                                 "value", n_boot=50, alpha=0.05)
            .select(F.lit("boot").alias("part"),
                    F.lit(None).cast("string").alias("k1"),
                    F.lit(None).cast("string").alias("k2"),
                    F.col("n_boot_effective").alias("n1"),
                    F.lit(None).cast("long").alias("n2"),
                    fround(F.col("diff_obs")).alias("v1"),
                    fround(F.col("ci_lo")).alias("v2"),
                    fround(F.col("ci_hi")).alias("v3")))
    from ..operators.regression import isotonic_fit

    orders = load_table(spark, sf_dir, "orders")
    xm = ((F.year("o_orderdate") - F.lit(1995)) * 12
          + F.month("o_orderdate") - F.lit(1))
    pooled = (orders.filter(F.col("o_totalprice").isNotNull())
              .groupBy(F.col("o_orderpriority").alias("grp"),
                       xm.alias("x"))
              .agg(F.avg("o_totalprice").alias("y"),
                   F.count(F.lit(1)).alias("n")))
    # iso: per-priority monotone calibration of mean order value over
    # the month index — grouped PAV (operators.regression.isotonic_fit,
    # applyInPandas over ~80 pooled points/group). The oracle
    # re-derives the SAME fit from the minimax characterization, so
    # the iterative operator gets an EXACT SQL cross-check (no pinning).
    from ..operators.expectations import benford_digits
    from ..operators.regression import (grouped_ols, mann_kendall,
                                        theil_sen_slope)

    # ols / theil / mk: per-event-type trend of the 3-hourly mean
    # metric — OLS from one grouped aggregate of the five sufficient
    # sums, the robust Theil–Sen line (median of pairwise slopes; the
    # estimator ~29% outliers cannot move), and the Mann-Kendall
    # test. x = 3-hour index from the fixed corpus epoch (2024-01-01
    # = unix 3h-unit 157784) so both engines sum small doubles —
    # 240 points/group keeps the O(m²) pair stages at ~29k pairs per
    # group (the hourly form measured 3.9s in the theil median alone;
    # the trend read is identical). Slopes round at 6 dp (they live
    # at 1e-3 scale where 4 dp house rounding would null the check).
    us_h = F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                   / F.lit(10_800_000_000)) - F.lit(157784)
    hourly = (events.filter(F.col("value").isNotNull())
              .groupBy(F.col("event_type").alias("grp"),
                       us_h.cast("double").alias("x"))
              .agg(F.avg("value").alias("y")))
    ols = (grouped_ols(hourly, "grp", "x", "y")
           .select(F.lit("ols").alias("part"),
                   F.col("group").alias("k1"),
                   F.lit(None).cast("string").alias("k2"),
                   F.col("n").alias("n1"),
                   F.lit(None).cast("long").alias("n2"),
                   F.round("slope", 6).alias("v1"),
                   F.round("intercept", 6).alias("v2"),
                   F.round("r2", 6).alias("v3")))
    theil = (theil_sen_slope(hourly, "grp", "x", "y")
             .select(F.lit("theil").alias("part"),
                     F.col("group").alias("k1"),
                     F.lit(None).cast("string").alias("k2"),
                     F.col("n_points").alias("n1"),
                     F.col("n_pairs").alias("n2"),
                     F.round("slope", 6).alias("v1"),
                     F.lit(None).cast("double").alias("v2"),
                     F.lit(None).cast("double").alias("v3")))
    # mk: the nonparametric companion — shares the hourly series and
    # the pair-join shape with theil
    mk = (mann_kendall(hourly, "grp", "x", "y")
          .select(F.lit("mk").alias("part"),
                  F.col("group").alias("k1"),
                  F.lit(None).cast("string").alias("k2"),
                  F.col("n").alias("n1"),
                  F.col("s_stat").alias("n2"),
                  F.round("z_stat", 6).alias("v1"),
                  F.lit(None).cast("double").alias("v2"),
                  F.lit(None).cast("double").alias("v3")))
    # benford: first-significant-digit forensic screen on the order
    # amounts (one grouped aggregate + a 9-row digit table)
    bf = (benford_digits(orders, "o_totalprice")
          .select(F.lit("benford").alias("part"),
                  F.col("digit").cast("string").alias("k1"),
                  F.lit(None).cast("string").alias("k2"),
                  F.col("n_obs").alias("n1"),
                  F.lit(None).cast("long").alias("n2"),
                  F.round("expected", 4).alias("v1"),
                  F.round("contrib", 6).alias("v2"),
                  F.lit(None).cast("double").alias("v3")))
    iso = (isotonic_fit(pooled, "grp", "x", "y")
           .join(pooled.select(F.col("grp").alias("group"),
                               F.col("x").cast("double").alias("x"), "n"),
                 ["group", "x"])
           .select(F.lit("iso").alias("part"),
                   F.col("group").alias("k1"),
                   F.lit(None).cast("string").alias("k2"),
                   F.col("x").cast("long").alias("n1"),
                   F.col("n").alias("n2"),
                   fround(F.col("y")).alias("v1"),
                   fround(F.col("y_iso")).alias("v2"),
                   F.lit(None).cast("double").alias("v3")))

    from ..operators.relational import anova_oneway, bh_adjust

    # anova — r7: one-way F across event types on the cent-quantized
    # metric (the q07 cmat discipline: ROUND(value*100) int grid →
    # exact int64 sufficient statistics, closed forms mirrored
    # verbatim in the oracle; ss reported in original units by
    # dividing the 100² grid back out, F is scale-invariant)
    vq = (events.filter(F.col("value").isNotNull())
          .select("event_type",
                  F.round(F.col("value") * 100).cast("bigint")
                   .alias("vq")))
    anova = (anova_oneway(vq, "vq", "event_type")
             .select(F.lit("anova").alias("part"),
                     F.lit(None).cast("string").alias("k1"),
                     F.lit(None).cast("string").alias("k2"),
                     F.col("k").alias("n1"), F.col("n").alias("n2"),
                     F.round(F.col("ss_between") / 1.0e4, 3).alias("v1"),
                     F.round(F.col("ss_within") / 1.0e4, 3).alias("v2"),
                     F.round("f_stat", 6).alias("v3")))

    # bh — r7: Benjamini-Hochberg step-up over the per-event-type KS
    # p-values (input = the 6 dp-rounded p both engines already agree
    # on bit-for-bit; event_type tiebreak makes bh_rank itself
    # comparable)
    bh_in = (ks_test(assigned, "variant", "value",
                     key_cols=["event_type"])
             .select("event_type", F.round("p_approx", 6).alias("p")))
    bh = (bh_adjust(bh_in, "p", alpha=0.05,
                    tiebreak_cols=["event_type"])
          .select(F.lit("bh").alias("part"),
                  F.col("event_type").alias("k1"),
                  F.lit(None).cast("string").alias("k2"),
                  F.col("bh_rank").cast("long").alias("n1"),
                  F.lit(None).cast("long").alias("n2"),
                  F.col("p").alias("v1"),
                  F.round("p_adj", 6).alias("v2"),
                  F.when(F.col("rejected"), 1.0).otherwise(0.0)
                   .alias("v3")))
    from ..operators.relational import (cuped_estimate, diff_in_diff,
                                        post_stratified_effect)

    # cuped / cuped_var / did / strat — r7 session 3: the causal-
    # adjustment estimators next to the raw tests. Shared quantized
    # event view: value → exact cents, period split at mid-month.
    cut_ts = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    evx = (assigned.filter(F.col("value").isNotNull())
           .select("user_id", "variant", "event_type",
                   F.round(F.col("value") * 100).cast("long").alias("vq"),
                   (F.col("ts") >= cut_ts).alias("is_post")))
    # per-user pre/post means quantized to milli-dollars (cents·10):
    # keeps Σx² < 2^53 through sf1 so the sufficient sums cast to
    # double exactly on both engines (operator docstring)
    per_user = (evx.groupBy("user_id", "variant")
                .agg(F.sum(F.when(~F.col("is_post"), F.col("vq")))
                     .alias("pre_s"),
                     F.sum(F.when(~F.col("is_post"), 1).otherwise(0))
                     .alias("pre_n"),
                     F.sum(F.when(F.col("is_post"), F.col("vq")))
                     .alias("post_s"),
                     F.sum(F.when(F.col("is_post"), 1).otherwise(0))
                     .alias("post_n"))
                .filter((F.col("pre_n") > 0) & (F.col("post_n") > 0))
                .select("variant",
                        F.round(F.col("pre_s") / F.col("pre_n") * 10)
                        .cast("long").alias("xq"),
                        F.round(F.col("post_s") / F.col("post_n") * 10)
                        .cast("long").alias("yq")))

    # the cuped/cuped_var rows both read this 1-row aggregate — persist
    # it or the whole per-user chain runs twice (AQE does not fold
    # identical sibling subtrees; the q61 lesson)
    cu = cache.persist(cuped_estimate(per_user))
    cuped = cu.select(F.lit("cuped").alias("part"),
                      nullS.alias("k1"), nullS.alias("k2"),
                      F.col("n_a").alias("n1"), F.col("n_b").alias("n2"),
                      fround(F.col("theta")).alias("v1"),
                      fround(F.col("raw_effect") / F.lit(1e3)).alias("v2"),
                      fround(F.col("adj_effect") / F.lit(1e3)).alias("v3"))
    cupedv = cu.select(F.lit("cuped_var").alias("part"),
                       nullS.alias("k1"), nullS.alias("k2"),
                       F.col("n").alias("n1"),
                       F.lit(None).cast("long").alias("n2"),
                       fround(F.col("var_y") / F.lit(1e6)).alias("v1"),
                       fround(F.col("var_adj") / F.lit(1e6)).alias("v2"),
                       fround(F.col("var_reduction_pct")).alias("v3"))
    dd = (diff_in_diff(evx, value_col="vq")
          .select(F.lit("did").alias("part"),
                  nullS.alias("k1"), nullS.alias("k2"),
                  F.col("n_pre").alias("n1"), F.col("n_post").alias("n2"),
                  fround(F.col("pre_diff") / F.lit(1e2)).alias("v1"),
                  fround(F.col("post_diff") / F.lit(1e2)).alias("v2"),
                  fround(F.col("did") / F.lit(1e2)).alias("v3")))
    strat = (post_stratified_effect(evx, "event_type", value_col="vq",
                                    micro=10_000)
             .select(F.lit("strat").alias("part"),
                     nullS.alias("k1"), nullS.alias("k2"),
                     F.col("n_strata").alias("n1"),
                     F.col("n_events").alias("n2"),
                     fround(F.col("effect_q") / F.col("n_events")
                            / F.lit(1e6)).alias("v1"),
                     nullD.alias("v2"), nullD.alias("v3")))

    return {"split": split, "ttest": tt, "mwu": mw, "ks": ks,
            "chi2": c2, "wins": wins, "boot": boot, "iso": iso,
            "ols": ols, "theil": theil, "mk": mk, "benford": bf,
            "anova": anova, "bh": bh, "cuped": cuped,
            "cuped_var": cupedv, "did": dd, "strat": strat}


@register(
    "q11_split_sample_counts",
    oracle="""
    WITH mix AS (
      SELECT lang,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT)
               AS toks
      FROM documents
      WHERE CAST(('0x' || substring(
                    md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 10000
            < CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                          WHEN 'src2' THEN 2500  WHEN 'src3' THEN 1000
                          ELSE 7500 END),
    mix_agg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_mix,
             CAST(SUM(toks) AS BIGINT) AS mix_tokens
      FROM mix GROUP BY lang),
    pack AS (
      SELECT lang,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT)
               AS toks,
             SUM(CAST(len(string_split_regex(lower(text), '\\s+'))
                      AS BIGINT))
               OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents),
    pack_agg AS (
      SELECT lang,
             CAST(MAX((cum - 1) // 512) + 1 AS BIGINT) AS n_pack_seqs,
             CAST(SUM(CASE WHEN (cum - toks) // 512 < (cum - 1) // 512
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
             CAST((MAX((cum - 1) // 512) + 1) * 512 - SUM(toks)
                  AS BIGINT) AS pack_waste
      FROM pack GROUP BY lang),
    -- r5 session 2: Efraimidis-Spirakis weighted sample without
    -- replacement, recomputed EXACTLY (same md5 uniform, same
    -- ln(u)/w key, same top-200 with doc_id tiebreak)
    ws AS (
      SELECT lang,
             CAST(len(string_split_regex(lower(text), '\\s+'))
                  AS BIGINT) AS toks
      FROM (
        SELECT lang, text
        FROM documents
        ORDER BY ln((CAST(CAST(('0x' || substring(
                       md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) AS DOUBLE) + 1.0)
                    / 1152921504606846976.0)
                 / GREATEST(CAST(len(string_split_regex(lower(text),
                       '\\s+')) AS DOUBLE), 1e-12) DESC,
                 doc_id
        LIMIT 200)),
    ws_agg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_wsample,
             CAST(SUM(toks) AS BIGINT) AS wsample_tokens
      FROM ws GROUP BY lang),
    -- r6: DSIR importance resampling (Xie et al. 2023) recomputed
    -- EXACTLY: same md5 hashing-trick buckets, same add-1 bucket LMs,
    -- same Gumbel top-200 on the 6dp-rounded key with doc_id tiebreak
    dtok AS (
      SELECT doc_id, lang, source = 'src0' AS is_t,
             CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 1024 AS b
      FROM (SELECT doc_id, lang, source,
                   unnest(string_split_regex(lower(text), '\\s+')) AS t
            FROM documents)
      WHERE t <> ''),
    dtot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS R,
                    CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END)
                         AS DOUBLE) AS T
             FROM dtok),
    dbuck AS (
      SELECT b, COUNT(*) AS rc,
             SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc
      FROM dtok GROUP BY b),
    dratio AS (
      SELECT b, ln((tc + 1.0) / (T + 1024.0))
                - ln((rc + 1.0) / (R + 1024.0)) AS lr
      FROM dbuck CROSS JOIN dtot),
    dlogw AS (
      SELECT dtok.doc_id, ANY_VALUE(dtok.lang) AS lang,
             SUM(dratio.lr) AS logw
      FROM dtok JOIN dratio USING (b)
      GROUP BY dtok.doc_id),
    dsel AS (
      SELECT lang, logw
      FROM dlogw
      ORDER BY ROUND(logw - ln(-ln((CAST(CAST(('0x' || substring(
                 md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) AS DOUBLE) + 1.0)
                 / 1152921504606846978.0)), 6) DESC,
               doc_id
      LIMIT 200),
    dsir_agg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_dsir,
             ROUND(SUM(ROUND(logw, 6)), 4) AS dsir_sumw
      FROM dsel GROUP BY lang)
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           TRUE AS split_exact,
           TRUE AS train_frac_ok,
           TRUE AS sampled_frac_ok,
           COALESCE(ANY_VALUE(m.n_mix), 0) AS n_mix,
           COALESCE(ANY_VALUE(m.mix_tokens), 0) AS mix_tokens,
           ANY_VALUE(p.n_pack_seqs) AS n_pack_seqs,
           ANY_VALUE(p.n_straddle) AS n_straddle,
           ANY_VALUE(p.pack_waste) AS pack_waste,
           COALESCE(ANY_VALUE(w.n_wsample), 0) AS n_wsample,
           COALESCE(ANY_VALUE(w.wsample_tokens), 0) AS wsample_tokens,
           COALESCE(ANY_VALUE(ds.n_dsir), 0) AS n_dsir,
           COALESCE(ANY_VALUE(ds.dsir_sumw), 0.0) AS dsir_sumw
    FROM documents d
    LEFT JOIN mix_agg m ON d.lang = m.lang
    LEFT JOIN pack_agg p ON d.lang = p.lang
    LEFT JOIN ws_agg w ON d.lang = w.lang
    LEFT JOIN dsir_agg ds ON d.lang = ds.lang
    GROUP BY d.lang
    """,
    tags=("sampling", "split", "ml", "mixture", "packing", "dsir"),
)
def split_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded-RNG sampling suite (merged r1 q11+q63): P14's 70/30
    ``randomSplit`` with seed 10 (``Main.scala:434-435``) and
    stratified corpus balancing (downsample en/zh to 50%, keep the
    rest; ``operators.cleaning.stratified_sample``).

    Oracle-backed self-verifying contract (r3): Spark's seeded RNG is
    engine-specific, so the RNG-dependent counts are hashed as
    CONTRACT BOOLEANS the engine must make true — the split partitions
    every stratum exactly (train+test == total, per lang), the train
    fraction lands in 0.70 ± 0.15, the stratified sample hits 0.5 ± 0.15
    for downsampled langs and exactly 1.0 for kept langs — while
    ``n_total`` is genuinely SQL-derived. Exact per-stratum tolerance
    bands stay the pytest contract.

    r3 adds the DATA-MIXTURE sampler (``operators.cleaning.
    mixture_sample``): per-source keep rates (src0 100% / src1 50% /
    src2 25% / src3 10% / default 75%) decided by salted md5 buckets —
    deterministic, so ``n_mix`` and ``mix_tokens`` (surviving docs and
    their whitespace-token budget per lang) are EXACT oracle-recomputed
    values, not tolerance booleans.

    r5 session 2 adds WEIGHTED sampling without replacement
    (``operators.cleaning.weighted_sample_topk``, Efraimidis–Spirakis
    top-k on ln(u)/w): the token-weighted top-200 documents, whose
    per-lang counts and token budgets (``n_wsample`` /
    ``wsample_tokens``) the oracle recomputes EXACTLY from the same
    md5-derived uniforms — deterministic member-set parity, the
    strongest form a sampler can be checked at.

    Session-3 adds SEQUENCE-PACKING accounting
    (``operators.textual.packing_accounting``): concat-and-chunk at
    512 tokens per lang stream — sequences used, boundary-straddling
    docs (what a loss mask must handle), and last-sequence waste, all
    EXACT oracle-recomputed (the packing rule is pure window algebra,
    reproducible across engines)."""
    from ..operators.cleaning import (
        dsir_select,
        mixture_sample,
        stratified_sample,
        weighted_sample_topk,
    )
    from ..operators.textual import packing_accounting, token_count_expr

    docs = load_table(spark, sf_dir, "documents")
    train, test = docs.randomSplit([0.7, 0.3], seed=10)
    sampled = stratified_sample(
        docs, "lang",
        {"en": 0.5, "zh": 0.5, "de": 1.0, "fr": 1.0, "es": 1.0}, seed=42)
    mixed = mixture_sample(
        docs, "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        key_col="doc_id", default_rate=0.75)
    count_by_lang = [
        docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total")),
        train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_train")),
        test.groupBy("lang").agg(F.count(F.lit(1)).alias("n_test")),
        sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled")),
        mixed.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_mix_raw"),
            F.sum(token_count_expr(F.col("text")).cast("long"))
             .alias("mix_tokens_raw")),
        packing_accounting(docs, seq_tokens=512).groupBy("lang").agg(
            (F.max("seq_last") + 1).alias("n_pack_seqs"),
            F.sum(F.col("straddles").cast("long")).alias("n_straddle"),
            ((F.max("seq_last") + 1) * 512 - F.sum("n_toks"))
             .alias("pack_waste")),
        # r5 session 2: weighted sampling without replacement —
        # Efraimidis-Spirakis top-k on ln(u)/w with u from the shared
        # md5 hash, so the member set is EXACT oracle-recomputed
        weighted_sample_topk(docs, token_count_expr(F.col("text")),
                             k=200).groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_ws_raw"),
            F.sum(token_count_expr(F.col("text")).cast("long"))
             .alias("ws_tokens_raw")),
        # r6: DSIR importance resampling toward the src0 "curated"
        # domain (operators.cleaning.dsir_select) — hashed-unigram
        # importance weights, Gumbel top-200; member set EXACT
        dsir_select(docs, "text", F.col("source") == "src0",
                    k=200).groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_dsir_raw"),
            F.round(F.sum(F.round(F.col("dsir_logw"), 6)), 4)
             .alias("dsir_sumw_raw")),
    ]
    out = count_by_lang[0]
    for frame in count_by_lang[1:]:
        out = out.join(frame, "lang", "left")
    n_train = F.coalesce(F.col("n_train"), F.lit(0))
    n_test = F.coalesce(F.col("n_test"), F.lit(0))
    n_sampled = F.coalesce(F.col("n_sampled"), F.lit(0))
    train_frac = n_train / F.col("n_total")
    sample_frac = n_sampled / F.col("n_total")
    return out.select(
        "lang", "n_total",
        (n_train + n_test == F.col("n_total")).alias("split_exact"),
        train_frac.between(0.55, 0.85).alias("train_frac_ok"),
        F.when(F.col("lang").isin("en", "zh"),
               sample_frac.between(0.35, 0.65))
         .otherwise(n_sampled == F.col("n_total"))
         .alias("sampled_frac_ok"),
        F.coalesce(F.col("n_mix_raw"), F.lit(0)).alias("n_mix"),
        F.coalesce(F.col("mix_tokens_raw"), F.lit(0).cast("long"))
         .alias("mix_tokens"),
        "n_pack_seqs", "n_straddle", "pack_waste",
        F.coalesce(F.col("n_ws_raw"), F.lit(0)).alias("n_wsample"),
        F.coalesce(F.col("ws_tokens_raw"), F.lit(0).cast("long"))
         .alias("wsample_tokens"),
        F.coalesce(F.col("n_dsir_raw"), F.lit(0)).alias("n_dsir"),
        F.coalesce(F.col("dsir_sumw_raw"), F.lit(0.0)).alias("dsir_sumw"),
    )
