"""Analytic query surface (SURVEY.md §2.6 + M3) — windows, rollup/
cube/grouping sets, set ops, semi/anti/outer joins, pivot, JSON,
string & array functions, sessionization.

All absent from the reference (it has no orderBy/limit/window/set-op
at all, SURVEY.md §2.6) but required for a complete engine; every
query here is DuckDB-oracle-checked.

Timestamp discipline: events.ts carries nanosecond precision that
Spark truncates to micros at load (io.py), so every oracle touching
ts arithmetic/ordering wraps it in CAST(ts AS TIMESTAMP) to get the
same micro truncation; intra-user orderings tie-break on event_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import cache
from ..io import load_table
from ..operators.relational import top_k_per_group
from .registry import fround, register


@register(
    "q18_window_suite",
    oracle="""
    SELECT 'topk' AS part, o_orderkey AS id, o_orderpriority AS grp,
           ROUND(o_totalprice, 4) AS v1, CAST(NULL AS DOUBLE) AS v2, rn
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders)
    WHERE rn <= 3
    UNION ALL
    SELECT 'run', event_id, CAST(user_id AS VARCHAR),
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4),
           ROUND(LAG(value) OVER (PARTITION BY user_id ORDER BY event_id), 4),
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT)
    FROM events
    """,
    tags=("window", "topk", "frame"),
)
def window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + frame windows in one tagged result (merged r2 q18+q19
    to free driver prefix slots):

    * ``topk`` — top-3 orders per priority via a ranking window
      (deterministic tie-break on the unique key). One shuffle on the
      partition key, per-partition sort only; for k ≪ group size this
      dominates global-sort approaches.
    * ``run`` — running aggregate with an explicit ROWS frame + lag +
      row_number over the same window spec — one shuffle serves all
      three.
    """
    orders = load_table(spark, sf_dir, "orders")
    topk = (top_k_per_group(
        orders, ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")], k=3)
        .select(F.lit("topk").alias("part"),
                F.col("o_orderkey").alias("id"),
                F.col("o_orderpriority").alias("grp"),
                fround(F.col("o_totalprice")).alias("v1"),
                F.lit(None).cast("double").alias("v2"),
                F.col("rn").cast("int").alias("rn")))
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    frame = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    run = ev.select(
        F.lit("run").alias("part"),
        F.col("event_id").alias("id"),
        F.col("user_id").cast("string").alias("grp"),
        fround(F.sum("value").over(frame)).alias("v1"),
        fround(F.lag("value").over(w)).alias("v2"),
        F.row_number().over(w).cast("int").alias("rn"),
    )
    return topk.unionByName(run)


@register(
    "q20_rollup_cube_gsets",
    oracle="""
    SELECT 'rollup' AS op, l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           CAST(COUNT(*) AS BIGINT)  AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube', l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4), CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'gsets', l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4), CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    tags=("agg", "rollup", "cube", "grouping-sets"),
)
def rollup_cube_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multidimensional aggregation family in one tagged result:
    ``rollup`` (hierarchical subtotals), ``cube`` (all grouping
    combinations), and explicit GROUPING SETS. (Merged r1 q20-q22 so
    all three fit the driver's checked prefix.)

    Single-pass (r3, VERDICT r2 #3): the three families are unions of
    the same four grouping sets, so ONE GROUPING SETS clause covering
    (rf,ls)/(rf)/(ls)/() computes each set once from ONE lineitem scan
    (Expand dedups shared sets), and ``grouping_id()`` maps every
    output row back to the families that contain its set — the old
    3-branch union re-scanned lineitem per family. Output rows are
    identical (hash-pinned by the unchanged oracle).

    100 TB notes: one FileScan + one Expand(×4) + one hash aggregate;
    partial aggregation still collapses map-side per set.
    """
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    base = spark.sql("""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS n,
               grouping_id() AS gid
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
    """)
    # gid bit 0 = l_linestatus aggregated, bit 1 = l_returnflag:
    # (rf,ls)=0 ∈ rollup+cube; (rf)=1 ∈ all three; (ls)=2 ∈ cube+gsets;
    # ()=3 ∈ rollup+cube
    ops = (F.when(F.col("gid") == 1,
                  F.array(F.lit("rollup"), F.lit("cube"), F.lit("gsets")))
           .when(F.col("gid") == 2, F.array(F.lit("cube"), F.lit("gsets")))
           .otherwise(F.array(F.lit("rollup"), F.lit("cube"))))
    return (base.withColumn("op", F.explode(ops))
            .select("op", "l_returnflag", "l_linestatus", "sum_qty", "n"))


@register(
    "q23_membership_join_suite",
    oracle="""
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
         y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
    SELECT 'setops' AS part, k, n1,
           CAST(NULL AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS v
    FROM (
      SELECT 'n_with_orders' AS k,
             CAST((SELECT COUNT(*) FROM customer
                   WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS BIGINT) AS n1
      UNION ALL
      SELECT 'n_without_orders',
             CAST((SELECT COUNT(*) FROM customer
                   WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS BIGINT)
      UNION ALL
      SELECT 'n_both',
             CAST((SELECT COUNT(*) FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)) AS BIGINT)
      UNION ALL
      SELECT 'n_only_95',
             CAST((SELECT COUNT(*) FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)) AS BIGINT)
      UNION ALL
      -- r5: Bloom-prefiltered semi-join must be ROW-IDENTICAL to the
      -- exact semi-join (the Bloom stage only prunes; false positives
      -- are removed by the semi-join over survivors)
      SELECT 'n_with_orders_bloom',
             CAST((SELECT COUNT(*) FROM customer
                   WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS BIGINT))
    UNION ALL
    -- r5 session 2: the KMV estimate is recomputed HERE, bit-exactly —
    -- same md5-derived 60-bit hashes, same k-minima, same arithmetic
    SELECT 'setops', 'kmv_intersect', s.est_inter, s.j,
           ROUND(s.est_union, 4)
    FROM (
      WITH ha AS (SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM y95),
      hb AS (SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM y96),
      ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
      skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
      unionk AS (SELECT DISTINCT h FROM
                   (SELECT h FROM ska UNION ALL SELECT h FROM skb)
                 ORDER BY h LIMIT 256),
      st AS (SELECT (SELECT COUNT(*) FROM unionk) AS uk,
                    (SELECT MAX(h) FROM unionk) AS kth,
                    (SELECT COUNT(*) FROM unionk u
                     WHERE EXISTS (SELECT 1 FROM ska WHERE ska.h = u.h)
                       AND EXISTS (SELECT 1 FROM skb WHERE skb.h = u.h))
                      AS j)
      SELECT j,
             CASE WHEN uk < 256 THEN CAST(uk AS DOUBLE)
                  ELSE (256 - 1) * POW(2.0, 60) / kth END AS est_union,
             CAST(round(j * (CASE WHEN uk < 256 THEN CAST(uk AS DOUBLE)
                  ELSE (256 - 1) * POW(2.0, 60) / kth END) / uk)
                  AS BIGINT) AS est_inter
      FROM st) s
    UNION ALL
    SELECT 'louter', p_brand,
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE li.l_partkey IS NULL) AS BIGINT),
           ROUND(SUM(COALESCE(li.l_quantity, 0)), 4)
    FROM part
    LEFT JOIN (SELECT l_partkey, l_quantity FROM lineitem WHERE l_quantity > 45) li
      ON p_partkey = li.l_partkey
    GROUP BY p_brand
    """,
    tags=("join", "semi", "anti", "setops", "outer"),
)
def membership_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership semantics + outer join in one tagged result (merged
    r1 q23+q25 and r2 q24 to free driver prefix slots):

    * ``setops`` — EXISTS / NOT EXISTS as left-semi and left-anti
      joins, plus INTERSECT / EXCEPT over customer key sets from two
      order years, reshaped to (metric, value) rows. The r5
      ``n_with_orders_bloom`` row runs the broadcast-Bloom runtime
      prefilter + exact semi-join (operators.relational.
      bloom_semi_join) and must be row-identical to the plain
      semi-join — the oracle pins both to the same EXISTS count.
    * ``louter`` — left outer join preserving unmatched build-side rows
      (the lineitem side is pre-filtered so some parts genuinely miss).

    100 TB notes: semi/anti joins shuffle only the join key columns and
    short-circuit on first match — far cheaper than inner-join+distinct;
    intersect/except hash-partition the (distinct) key sets once.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cond = customer.c_custkey == orders.o_custkey
    y95 = orders.filter(F.year("o_orderdate") == 1995) \
        .select("o_custkey").distinct()
    y96 = orders.filter(F.year("o_orderdate") == 1996) \
        .select("o_custkey").distinct()

    def _metric(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n1")).select(
            F.lit("setops").alias("part"), F.lit(name).alias("k"), "n1",
            F.lit(None).cast("long").alias("n2"),
            F.lit(None).cast("double").alias("v"))

    from ..operators.relational import bloom_semi_join

    setops = (
        _metric(customer.join(orders, cond, "left_semi"), "n_with_orders")
        .unionByName(_metric(customer.join(orders, cond, "left_anti"),
                             "n_without_orders"))
        .unionByName(_metric(y95.intersect(y96), "n_both"))
        .unionByName(_metric(y95.exceptAll(y96), "n_only_95"))
        # r5: broadcast-Bloom runtime prefilter + exact semi-join —
        # oracle pins row-identity with the plain semi-join
        .unionByName(_metric(
            bloom_semi_join(customer, orders.select("o_custkey"),
                            "c_custkey", "o_custkey"),
            "n_with_orders_bloom")))

    # r5 session 2: KMV set-intersection sketch over the same two year
    # key sets — md5-hash-based so the DuckDB oracle recomputes the
    # ESTIMATE itself bit-exactly (operators.sketches.kmv_*); the
    # mergeable-synopsis answer to "how much do these partitions
    # overlap" that HLL++ cannot give.
    from ..operators.sketches import kmv_intersection_estimate

    kmv = (kmv_intersection_estimate(y95, y96, "o_custkey", k=256)
           .select(F.lit("setops").alias("part"),
                   F.lit("kmv_intersect").alias("k"),
                   F.col("est_intersection").alias("n1"),
                   F.col("j").alias("n2"),
                   fround(F.col("est_union")).alias("v")))
    setops = setops.unionByName(kmv)

    part = load_table(spark, sf_dir, "part")
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_quantity") > 45)
          .select("l_partkey", "l_quantity"))
    louter = (
        part.join(li, part.p_partkey == li.l_partkey, "left")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n1"),
            F.count(F.when(F.col("l_partkey").isNull(), 1)).alias("n2"),
            fround(F.sum(F.coalesce(F.col("l_quantity"), F.lit(0.0))))
             .alias("v"),
        )
        .select(F.lit("louter").alias("part"),
                F.col("p_brand").alias("k"), "n1", "n2", "v"))
    return setops.unionByName(louter)


@register(
    "q26_semistructured_suite",
    oracle="""
    SELECT 'json' AS part, event_type AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS v1,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE) AS v2
    FROM events
    GROUP BY event_type
    UNION ALL
    SELECT 'pivot', l_returnflag, CAST(NULL AS BIGINT),
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4),
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4)
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("json", "pivot"),
)
def semistructured_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured + reshaping suite in one tagged result (merged
    r2 q26+q27 to free driver prefix slots):

    * ``json`` — JSON property extraction from the events.props string
      column (the engine's semi-structured surface, FIXTURES.md).
    * ``pivot`` — linestatus pivoted into columns with an explicit
      value list, so the plan needs no discovery pre-pass (required at
      scale); the two pivot measures land in v1/v2.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    json_rows = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             fround(F.avg(k)).alias("v1"),
             F.max(k).cast("double").alias("v2"))
        .select(F.lit("json").alias("part"),
                F.col("event_type").alias("k"), "n", "v1", "v2"))
    li = load_table(spark, sf_dir, "lineitem")
    pivot_rows = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
        .select(F.lit("pivot").alias("part"),
                F.col("l_returnflag").alias("k"),
                F.lit(None).cast("long").alias("n"),
                fround(F.col("O")).alias("v1"),
                fround(F.col("F")).alias("v2")))
    return json_rows.unionByName(pivot_rows)


@register(
    "q28_string_functions",
    oracle="""
    WITH base AS (
      SELECT lang, text, string_split_regex(lower(text), '\\s+') AS w
      FROM documents),
    docstats AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             ROUND(AVG(CAST(len(w) AS DOUBLE)), 4) AS avg_words,
             ROUND(AVG(CAST(length(text) AS DOUBLE)), 4) AS avg_chars,
             CAST(COUNT(*) FILTER (WHERE contains(lower(text), 'data')) AS BIGINT) AS n_mention_data
      FROM base GROUP BY lang),
    ch AS (
      SELECT lang,
             unnest([array_to_string(w[s+1 : s+64], ' ')
                     for s in generate_series(
                       0,
                       (GREATEST(1, CAST(ceil((len(w) - 16) / 48.0) AS INTEGER)) - 1) * 48,
                       48)]) AS chunk_text
      FROM base),
    chstats AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             ROUND(AVG(CAST(len(string_split(chunk_text, ' ')) AS DOUBLE)), 4)
               AS avg_chunk_tokens,
             CAST(COUNT(DISTINCT md5(chunk_text)) AS BIGINT) AS n_chunk_fps
      FROM ch GROUP BY lang),
    normsrc AS (
      -- r5: Unicode-normalization contract over deterministically
      -- accented text. chr(225/233/241) = composed a/e/n-acute/tilde;
      -- 'a'||chr(769) = DECOMPOSED a + combining acute. Written via
      -- chr() so the source stays ASCII (a literal accent in source
      -- can itself be composed or decomposed - invisible ambiguity).
      SELECT lang, text,
             replace(replace(replace(text, 'a', chr(225)),
                             'e', chr(233)), 'n', chr(241)) AS dirty,
             replace(replace(text, 'a', 'a' || chr(769)),
                     'e', 'e' || chr(769)) AS decd
      FROM documents),
    norm AS (
      SELECT lang,
             CAST(COUNT(*) FILTER (WHERE dirty != text) AS BIGINT)
               AS n_accented,
             CAST(COUNT(DISTINCT md5(strip_accents(dirty))) AS BIGINT)
               AS n_norm_fps,
             CAST(COUNT(*) FILTER (WHERE strip_accents(dirty) = text)
               AS BIGINT) AS n_norm_identity,
             CAST(COUNT(DISTINCT md5(nfc_normalize(decd))) AS BIGINT)
               AS n_nfc_fps
      FROM normsrc GROUP BY lang)
    SELECT d.lang, d.n_docs, d.avg_words, d.avg_chars, d.n_mention_data,
           c.n_chunks, c.avg_chunk_tokens, c.n_chunk_fps,
           n.n_accented, n.n_norm_fps, n.n_norm_identity, n.n_nfc_fps
    FROM docstats d JOIN chstats c USING (lang) JOIN norm n USING (lang)
    """,
    tags=("strings", "chunking", "unicode"),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string surface (split/size, length, lower/contains) PLUS
    the document-chunking operator (r2): 64-token windows with
    16-token overlap via ``operators.textual.chunk_documents``. The
    ``n_chunk_fps`` column is COUNT(DISTINCT md5(chunk_text)) — any
    drift in chunk boundaries or joining changes a fingerprint, so the
    oracle pins the chunk TEXT exactly, not just the counts.

    r5 adds the Unicode-normalization contract: the corpus is
    deterministically "dirtied" (composed accents planted on a/e/n;
    a DECOMPOSED base+combining-acute variant for the NFC leg) with
    plain replace() on BOTH engines, then the engine's Arrow-batched
    normalizers (operators.textual.strip_accents_udf / unicode_nfc_udf
    — Spark has no built-in Unicode normalization, the legitimate UDF
    case) must agree fingerprint-for-fingerprint with DuckDB's
    strip_accents / nfc_normalize: per-lang distinct-md5 counts of the
    normalized text plus the strip(dirty)==original identity count.
    A one-codepoint divergence in any document flips a fingerprint."""
    from ..operators.textual import (
        WS_SPLIT,
        chunk_documents,
        strip_accents_udf,
        unicode_nfc_udf,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.lower("text"), WS_SPLIT))
    docstats = (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fround(F.avg(words.cast("double"))).alias("avg_words"),
            fround(F.avg(F.length("text").cast("double"))).alias("avg_chars"),
            F.count(F.when(F.lower(F.col("text")).contains("data"), 1))
             .alias("n_mention_data"),
        )
    )
    chunks = chunk_documents(docs, max_tokens=64, overlap=16) \
        .join(docs.select("doc_id", "lang"), "doc_id")
    chstats = (
        chunks.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_chunks"),
             fround(F.avg(F.col("n_tokens").cast("double")))
              .alias("avg_chunk_tokens"),
             F.countDistinct(F.md5("chunk_text")).alias("n_chunk_fps"))
    )
    strip_acc = strip_accents_udf()
    nfc = unicode_nfc_udf()
    # explicit escapes, not accent literals: a source-file accent can
    # itself be composed or decomposed (invisible ambiguity)
    dirty = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "a", "\u00e1"),
            "e", "\u00e9"),
        "n", "\u00f1")
    decd = F.regexp_replace(
        F.regexp_replace(F.col("text"), "a", "a\u0301"),
        "e", "e\u0301")
    normstats = (
        docs.select("lang", "text", dirty.alias("dirty"),
                    strip_acc(dirty).alias("snorm"),
                    nfc(decd).alias("cnorm"))
        .groupBy("lang")
        .agg(F.count(F.when(F.col("dirty") != F.col("text"), 1))
              .alias("n_accented"),
             F.countDistinct(F.md5("snorm")).alias("n_norm_fps"),
             F.count(F.when(F.col("snorm") == F.col("text"), 1))
              .alias("n_norm_identity"),
             F.countDistinct(F.md5("cnorm")).alias("n_nfc_fps"))
    )
    return docstats.join(chstats, "lang").join(normstats, "lang")


@register(
    "q29_array_functions",
    oracle="""
    WITH base AS (
      -- GREATEST(..., 1e-30): an all-zero embedding must quantize to
      -- all-zero codes, not divide by zero (ADVICE r2; same guard on
      -- the Spark side so the two engines cannot diverge)
      SELECT vec_id, label, embedding,
             GREATEST(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS maxabs
      FROM embeddings),
    quant AS (
      SELECT vec_id, label, embedding, maxabs,
             list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) / maxabs * 127.0)
                           AS INTEGER)) AS q8
      FROM base)
    SELECT vec_id, label,
           CAST(len(embedding) AS INTEGER) AS dim,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
           -- unrounded (r7): float32 -> double is EXACT on both
           -- engines, while ROUND(x, 4) on an arbitrary float32 can
           -- straddle Spark's BigDecimal vs DuckDB's scaled-multiply
           -- rounding (observed at sf0.1: -0.0001 vs -0.0)
           CAST(embedding[1] AS DOUBLE) AS first_component,
           CAST(q8[1] AS INTEGER) AS q8_first,
           CAST(list_max(list_transform(q8, v -> abs(v))) AS INTEGER)
             AS q8_maxabs,
           ROUND(list_max([abs(CAST(embedding[i] AS DOUBLE)
                               - q8[i] * maxabs / 127.0)
                           for i in generate_series(1, len(embedding))]), 4)
             AS max_quant_err
    FROM quant
    """,
    tags=("arrays", "vectors", "quantization"),
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column surface over embeddings: size, element access,
    higher-order transform/aggregate (L2 norm stays JVM-side — no
    UDF), PLUS symmetric int8 quantization (r2): per-vector absmax
    scale, round-to-127 codes, and the dequantization error bound —
    the storage-halving layout a 100 TB embedding table ships with.
    The oracle re-derives codes AND the max dequant error per vector,
    so the quantizer is value-checked, not shape-checked.

    Elements are float32; both sides cast to double BEFORE arithmetic
    so the accumulation error profile matches the oracle exactly.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.transform(F.col("embedding"),
                     lambda x: x.cast("double") * x.cast("double"))
    l2 = F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))
    # bind maxabs once (let-binding via single-element transform) so
    # interpreted HOFs don't recompute the array max per element;
    # greatest(…, 1e-30) guards the all-zero-vector division (ADVICE r2)
    maxabs = F.greatest(
        F.array_max(F.transform(
            F.col("embedding"), lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30))
    base = emb.withColumn("maxabs", maxabs)
    q8 = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") / F.col("maxabs") * 127.0)
                   .cast("int"))
    quant = base.withColumn("q8", q8)
    dequant_err = F.array_max(F.zip_with(
        F.col("embedding"), F.col("q8"),
        lambda x, v: F.abs(x.cast("double")
                           - v * F.col("maxabs") / 127.0)))
    return quant.select(
        "vec_id", "label",
        F.size("embedding").cast("int").alias("dim"),
        fround(l2).alias("l2_norm"),
        # unrounded — float32 -> double is exact (see oracle note)
        F.element_at("embedding", 1).cast("double")
         .alias("first_component"),
        F.element_at("q8", 1).alias("q8_first"),
        F.array_max(F.transform(F.col("q8"), F.abs)).alias("q8_maxabs"),
        fround(dequant_err).alias("max_quant_err"),
    )


@register(
    "q30_sessionization",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts_us FROM events),
    gaps AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM e),
    sess AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps)
    SELECT 'sess' AS part, user_id,
           CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n1,
           CAST(COUNT(*) AS BIGINT) AS n2,
           CAST(NULL AS DOUBLE) AS v
    FROM sess
    GROUP BY user_id
    UNION ALL
    -- r5 session 3: ordered view→click→purchase funnel — stage-k
    -- completion = earliest stage event STRICTLY after stage k−1
    SELECT 'funnel', t.stage, t.n, CAST(NULL AS BIGINT), NULL
    FROM (
      WITH t1 AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t
        FROM events WHERE event_type = 'view' GROUP BY 1),
      t2 AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t
        FROM events e JOIN t1 USING (user_id)
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > t1.t
        GROUP BY 1),
      t3 AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t
        FROM events e JOIN t2 USING (user_id)
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > t2.t
        GROUP BY 1)
      SELECT 1 AS stage, CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS n
      UNION ALL
      SELECT 2, CAST((SELECT COUNT(*) FROM t2) AS BIGINT)
      UNION ALL
      SELECT 3, CAST((SELECT COUNT(*) FROM t3) AS BIGINT)) t
    UNION ALL
    -- r5 session 4: daily cohort-retention triangle — cohort = each
    -- user's first-activity epoch-day; retention vs the offset-0 base
    SELECT 'cohort', c.cohort_day, c.n_users, c.offset,
           ROUND(c.n_users * 1.0 / b.nb, 4)
    FROM (
      WITH ed AS (
        SELECT user_id AS u,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        FROM events),
      f AS (SELECT u, MIN(d) AS d0 FROM ed GROUP BY 1)
      SELECT f.d0 AS cohort_day, ed.d - f.d0 AS offset,
             CAST(COUNT(DISTINCT ed.u) AS BIGINT) AS n_users
      FROM ed JOIN f USING (u)
      GROUP BY 1, 2) c
    JOIN (
      WITH ed AS (
        SELECT user_id AS u,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        FROM events),
      f AS (SELECT u, MIN(d) AS d0 FROM ed GROUP BY 1)
      SELECT f.d0 AS cohort_day, CAST(COUNT(DISTINCT ed.u) AS BIGINT) AS nb
      FROM ed JOIN f USING (u)
      WHERE ed.d = f.d0
      GROUP BY 1) b USING (cohort_day)
    UNION ALL
    -- r5 session 4: first-order Markov transitions between
    -- consecutive event types per user (row-stochastic per source)
    SELECT 'markov:' || m.from_state || '->' || m.to_state, NULL,
           m.n, NULL, ROUND(m.n * 1.0 / m.nf, 4)
    FROM (
      WITH s AS (
        SELECT event_type,
               LAG(event_type) OVER (
                 PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        FROM events),
      c AS (SELECT prev AS from_state, event_type AS to_state,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT from_state, SUM(n) AS nf FROM c GROUP BY 1)
      SELECT c.from_state, c.to_state, c.n, t.nf
      FROM c JOIN t USING (from_state)) m
    UNION ALL
    -- r6: ordered 2-sequence support — a-before-b existence reduces
    -- to per-user min_ts(a) < max_ts(b); support over all users
    SELECT 'seq:' || s.ta || '->' || s.tb, NULL, s.n, NULL,
           ROUND(s.n * 1.0 / s.nu, 4)
    FROM (
      WITH ut AS (
        SELECT user_id, event_type,
               MIN(CAST(ts AS TIMESTAMP)) AS t0,
               MAX(CAST(ts AS TIMESTAMP)) AS t1
        FROM events GROUP BY 1, 2),
      p AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ut a JOIN ut b ON a.user_id = b.user_id
         AND a.event_type <> b.event_type AND a.t0 < b.t1
        GROUP BY 1, 2),
      u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu
            FROM events)
      SELECT p.ta, p.tb, p.n, u.nu FROM p CROSS JOIN u) s
    UNION ALL
    -- r7: Kaplan–Meier time-to-first-purchase survival curve
    -- (operators.relational.kaplan_meier): duration = seconds from a
    -- user's first event to first purchase (event) or to last event
    -- (censored). S(t) via exp of the cumulative log-term sum in
    -- time order — the same sequential summation the engine's ROWS
    -- window performs, so drift is libm last-ulp vs a 4 dp grid.
    SELECT 'km', k.t, k.n_risk, k.d, ROUND(k.s, 4)
    FROM (
      WITH du AS (
        SELECT user_id,
               MIN(CAST(ts AS TIMESTAMP)) AS t0,
               MAX(CAST(ts AS TIMESTAMP)) AS tmax,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS TIMESTAMP) END) AS tp
        FROM events GROUP BY 1),
      d2 AS (
        SELECT CASE WHEN tp IS NOT NULL
                    THEN date_diff('second', t0, tp)
                    ELSE date_diff('second', t0, tmax) END AS dur,
               CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM du),
      pt AS (
        SELECT dur AS t, SUM(ev) AS d, COUNT(*) AS m
        FROM d2 GROUP BY 1),
      cur AS (
        SELECT t, d, m,
               SUM(m) OVER ()
               - COALESCE(SUM(m) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS n_risk
        FROM pt),
      km AS (
        SELECT t, d, n_risk,
               MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER w
                 AS zeroed,
               SUM(CASE WHEN d > 0 AND d < n_risk
                        THEN LN(1 - d * 1.0 / n_risk) ELSE 0 END)
                 OVER w AS logs
        FROM cur
        WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW))
      SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
             CAST(d AS BIGINT) AS d,
             CASE WHEN zeroed = 1 THEN 0.0 ELSE EXP(logs) END AS s
      FROM km WHERE d > 0) k
    """,
    tags=("window", "sessionization", "funnel", "cohort", "markov",
          "sequence", "survival"),
    # no ``parts`` attribution: the markov:*/seq:* rows carry dynamic
    # suffixes, and the parts contract (test_registry_contract)
    # demands the exact distinct tag set
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey analytics over the event log, tagged:

    * ``sess`` — gap-based sessionization (30-min inactivity) via lag
      + cumulative sum — the batch mirror of streaming session_window
      (plans.streaming). Per-user session/event counts.
    * ``funnel`` — r5 session 3: ordered view→click→purchase funnel
      (operators.relational.funnel_counts): users completing stages
      1..k in order, greedy-earliest completion times (the assignment
      that exists iff any ordered assignment exists). The oracle
      re-derives each stage frame with the same strict-after chain.
    * ``cohort`` — r5 session 4: daily cohort-retention triangle
      (operators.relational.cohort_retention): users bucketed by
      first-activity epoch-day, distinct-counted per day offset;
      user_id carries the cohort day, n2 the offset, v the retention
      ratio vs the offset-0 base.
    * ``markov:<from>-><to>`` — r5 session 4: first-order Markov
      transition matrix between consecutive event types per user
      (operators.relational.transition_matrix); n1 the transition
      count, v the row-stochastic probability.

    * ``seq:<a>-><b>`` — r6: ordered 2-sequence support
      (operators.relational.sequence_pair_support, the length-2 core
      of GSP/PrefixSpan): users with some a-event strictly before
      some b-event, via the per-user min_ts(a) < max_ts(b) reduction
      — the order-aware complement to ``markov`` (consecutive
      transitions only) and to q72's unordered association rules.
      n1 = supporting users, v = support fraction.
    * ``km`` — r7: Kaplan–Meier time-to-first-purchase survival
      (operators.relational.kaplan_meier), right-censored at each
      user's last observed event; user_id carries the event time in
      seconds, n1 the at-risk count, n2 the deaths, v = S(t).
    100 TB notes: sessionization, the Markov lag pass and the funnel
    share one user_id shuffle domain; the cohort join is
    co-partitioned on user (first-activity table is user-cardinality,
    NOT broadcast), and only cohort-sized / state-domain-sized
    aggregates broadcast for the ratio denominators.
    """

    # r12 (VERDICT r11 #3): all six legs key their event-sized work on
    # user_id (windows, groupBys, the funnel/cohort/seq joins), but
    # each leg independently re-scanned events and re-shuffled it —
    # the 26-Exchange plan whose 0.70 scaling ratio said shuffle
    # overhead, not data (guide §2.4: two operations keyed the same
    # way share one exchange). Project to the four columns any leg
    # touches, hash-partition ONCE on user_id and persist; every
    # leg's user_id-clustered operator is then satisfied by the
    # cached partitioning (ClusteredDistribution accepts any
    # hash-partition count) and only domain-sized aggregates (stages,
    # cohort days, type pairs, event times) still exchange. No
    # explicit partition count: AQE sizes the exchange from the data
    # (with canChangeCachedPlanOutputPartitioning=true the cache
    # keeps the coalesced width) — scale-adaptive by construction.
    # All six legs aggregate ints/timestamps only, so the repartition
    # cannot move a float sum (the q75 lesson, plans/cleaning.py).
    ev = cache.persist(
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "event_type")
        .repartition("user_id"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # micros, not cast-to-long (seconds) — must match the oracle's
    # micro-precision interval comparison
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    cum = W.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    nullv = F.lit(None).cast("double").alias("v")
    sess = (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(cum))
        .groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n1"),
             F.count(F.lit(1)).alias("n2"))
        .select(F.lit("sess").alias("part"), "user_id", "n1", "n2",
                nullv)
    )

    from ..operators.relational import funnel_counts

    fun = (funnel_counts(
               ev.withColumn("ts", F.col("ts").cast("timestamp")),
               "user_id", "ts", "event_type",
               ["view", "click", "purchase"])
           .select(F.lit("funnel").alias("part"),
                   F.col("stage").alias("user_id"),
                   F.col("n_users").alias("n1"),
                   F.lit(None).cast("long").alias("n2"), nullv))

    from ..operators.relational import cohort_retention, transition_matrix

    coh = (cohort_retention(ev, "user_id", "ts", period_days=1)
           .select(F.lit("cohort").alias("part"),
                   F.col("cohort_day").alias("user_id"),
                   F.col("n_users").alias("n1"),
                   F.col("offset").alias("n2"),
                   fround(F.col("retention")).alias("v")))
    mkv = (transition_matrix(ev, ["user_id"], ["ts", "event_id"],
                             "event_type")
           .select(F.concat(F.lit("markov:"), F.col("from_state"),
                            F.lit("->"), F.col("to_state")).alias("part"),
                   F.lit(None).cast("long").alias("user_id"),
                   F.col("n").alias("n1"),
                   F.lit(None).cast("long").alias("n2"),
                   fround(F.col("p")).alias("v")))
    from ..operators.relational import sequence_pair_support

    # seq: ordered 2-sequence support (a before b per user) — the
    # order-aware companion to the markov adjacency (which only sees
    # CONSECUTIVE transitions) and to q72's unordered co-occurrence
    seq = (sequence_pair_support(
               ev.withColumn("ts", F.col("ts").cast("timestamp")),
               "user_id", "ts", "event_type")
           .select(F.concat(F.lit("seq:"), F.col("type_a"),
                            F.lit("->"), F.col("type_b")).alias("part"),
                   F.lit(None).cast("long").alias("user_id"),
                   F.col("n_users").alias("n1"),
                   F.lit(None).cast("long").alias("n2"),
                   fround(F.col("support")).alias("v")))

    from ..operators.relational import kaplan_meier

    # km (r7): time-to-first-purchase survival with right-censoring at
    # each user's last observed event — rides the same per-user
    # min/max aggregate shuffle domain as the other legs
    tsx = F.col("ts").cast("timestamp")
    durs = (ev.groupBy("user_id")
            .agg(F.min(tsx).alias("t0"), F.max(tsx).alias("tmax"),
                 F.min(F.when(F.col("event_type") == "purchase", tsx))
                 .alias("tp"))
            .select(
                F.when(F.col("tp").isNotNull(),
                       F.unix_timestamp("tp") - F.unix_timestamp("t0"))
                 .otherwise(F.unix_timestamp("tmax")
                            - F.unix_timestamp("t0")).alias("dur"),
                F.when(F.col("tp").isNotNull(), 1).otherwise(0)
                 .alias("evt")))
    km = (kaplan_meier(durs, "dur", "evt")
          .select(F.lit("km").alias("part"),
                  F.col("t").cast("long").alias("user_id"),
                  F.col("n_risk").alias("n1"), F.col("d").alias("n2"),
                  fround(F.col("s")).alias("v")))
    return (sess.unionByName(fun).unionByName(coh)
            .unionByName(mkv).unionByName(seq).unionByName(km))


@register(
    "q54_exact_percentiles",
    oracle="""
    WITH liq AS (
      -- r8 (ADVICE r7): integer-cent quantization — interpolated
      -- medians of exact integers land on the quarter-cent grid, so
      -- the 4dp readout provably cannot sit near a ROUND boundary
      -- even though Spark and DuckDB interpolate with different
      -- expression trees
      SELECT l_returnflag, l_quantity,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    base AS (
      SELECT l_returnflag,
             ROUND(quantile_cont(pc, 0.25) / 100, 4) AS p25,
             ROUND(quantile_cont(pc, 0.50) / 100, 4) AS p50,
             ROUND(quantile_cont(pc, 0.75) / 100, 4) AS p75,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM liq
      GROUP BY l_returnflag),
    -- r6: quantity-WEIGHTED percentiles, step convention — smallest
    -- price whose cumulative quantity reaches p*W (inverse weighted
    -- ECDF; no interpolation, so both engines agree exactly)
    vc AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(CAST(l_quantity AS DOUBLE)) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      GROUP BY 1, 2),
    cw AS (
      SELECT l_returnflag, v,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM vc),
    wp AS (
      SELECT l_returnflag,
             ROUND(MIN(CASE WHEN cum >= 0.25 * tot THEN v END), 4)
               AS wp25,
             ROUND(MIN(CASE WHEN cum >= 0.50 * tot THEN v END), 4)
               AS wp50,
             ROUND(MIN(CASE WHEN cum >= 0.75 * tot THEN v END), 4)
               AS wp75
      FROM cw GROUP BY 1),
    -- r7: MAD robust outlier screen (operators.relational.
    -- mad_outlier_stats) — group MAD plus the Iglewicz–Hoaglin
    -- modified-z (>3.5) outlier count, guard mirrored (mad<=0 ->
    -- NULL outputs). Prices sit ~1.35 max modified-z, so n_out=0
    -- is itself the verified value here; the nonzero-tail and MAD=0
    -- guard cases are pinned in tests/test_io_and_skew.py.
    medt AS (
      SELECT l_returnflag, quantile_cont(pc, 0.5) AS med
      FROM liq GROUP BY 1),
    madt AS (
      SELECT l.l_returnflag,
             quantile_cont(ABS(l.pc - m.med), 0.5) AS mad
      FROM liq l JOIN medt m USING (l_returnflag)
      GROUP BY 1),
    mo AS (
      SELECT l.l_returnflag,
             ROUND(CASE WHEN d.mad > 0 THEN d.mad / 100 END, 4) AS mad,
             CAST(CASE WHEN d.mad > 0 THEN
               SUM(CASE WHEN 0.6745 * ABS(l.pc - m.med)
                             / d.mad > 3.5 THEN 1 ELSE 0 END)
             END AS BIGINT) AS n_out
      FROM liq l
      JOIN medt m USING (l_returnflag)
      JOIN madt d ON l.l_returnflag = d.l_returnflag
      GROUP BY l.l_returnflag, m.med, d.mad)
    SELECT base.*, wp.wp25, wp.wp50, wp.wp75, mo.mad, mo.n_out
    FROM base JOIN wp USING (l_returnflag)
              JOIN mo USING (l_returnflag)
    """,
    tags=("aggregation", "percentiles", "weighted", "robust"),
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` aggregate ==
    DuckDB ``quantile_cont``, both linear interpolation). At 100 TB use
    q55's approx sketch instead — exact percentile must materialize the
    per-group value multiset. All three points come from ONE
    array-argument aggregate (one multiset buffer per group, not three
    — 3× less aggregation state than separate percentile calls)."""
    from ..operators.relational import weighted_percentiles_step

    # (r8: a fanout_cache of the 3-column projection was measured a
    # wash here — the multiset percentile buffers pay their cost in
    # the 32-way partial-merge, not the scan)
    li = load_table(spark, sf_dir, "lineitem")
    # r8 (ADVICE r7): the interpolated-percentile legs run on
    # integer CENTS and divide back to dollars at readout —
    # interpolated medians of exact integers land on the quarter-cent
    # grid, provably >= 0.25e-4 from any 4dp ROUND boundary, even
    # though the two engines interpolate with different expression
    # trees (Spark a+(b-a)f vs DuckDB's lerp)
    liq = (li.filter(F.col("l_extendedprice").isNotNull())
           .select("l_returnflag",
                   F.round(F.col("l_extendedprice") * 100)
                    .cast("bigint").alias("pc")))
    pcts = F.percentile("pc",
                        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    # persisted (r7): the 3-row percentile aggregate feeds the rounded
    # base columns AND the MAD leg's unrounded group medians — one
    # lineitem aggregation pass instead of two
    stats = cache.persist(
        liq.groupBy("l_returnflag")
        .agg(pcts.alias("ps"), F.count(F.lit(1)).alias("n")))
    base = stats.select("l_returnflag",
                        fround(F.element_at("ps", 1) / 100).alias("p25"),
                        fround(F.element_at("ps", 2) / 100).alias("p50"),
                        fround(F.element_at("ps", 3) / 100).alias("p75"),
                        "n")
    # r6: quantity-weighted percentiles (step convention — exact, see
    # operators.relational.weighted_percentiles_step)
    wp = (weighted_percentiles_step(li, ["l_returnflag"],
                                    "l_extendedprice", "l_quantity",
                                    [0.25, 0.50, 0.75])
          .select("l_returnflag", fround("wp25").alias("wp25"),
                  fround("wp50").alias("wp50"),
                  fround("wp75").alias("wp75")))
    # r7: MAD robust outlier screen — same exact-percentile machinery,
    # so it lives in this slot; prices have no >3.5 modified-z tail,
    # making the verified n_out=0 plus the nontrivial mad value the
    # cross-engine contract (nonzero-tail case pinned in pytest).
    # Group medians come from the persisted base aggregate (unrounded
    # element_at(ps, 2)), so the screen adds two lineitem passes
    # (deviation medians, outlier count), not three.
    from ..operators.relational import mad_outlier_stats

    med_df = stats.select("l_returnflag",
                          F.element_at("ps", 2).alias("med"))
    # cents in, dollars out: the modified-z is scale-invariant, so
    # n_out is unchanged by the grid; mad divides back at readout
    mo = (mad_outlier_stats(liq, "pc", ["l_returnflag"],
                            med_df=med_df)
          .select("l_returnflag", fround(F.col("mad") / 100).alias("mad"),
                  F.col("n_outliers").alias("n_out")))
    return base.join(wp, "l_returnflag").join(mo, "l_returnflag")


@register(
    "q55_approx_sketches",
    oracle="""
    -- r5 (VERDICT r4 #5): hll_estimate_pinned carries the EXACT HLL++
    -- estimate per flag at the driver-testdata scales (keyed on table
    -- cardinality; HLL++ is hash-based and merge-order-invariant —
    -- measured twice in fresh processes, bit-identical), so an
    -- estimator regression flips the value hash, not just the
    -- error-band boolean. Unknown scales -> NULL on both sides.
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT)                  AS n,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact_orders,
           -- r7 session 3: exact F2 + the AMS tug-of-war estimate
           -- (16 sign sums from md5 bits) — the estimate is hash-
           -- derived, so the oracle re-derives it EXACTLY, no band
           (SELECT CAST(SUM(c * c) AS BIGINT)
            FROM (SELECT l_orderkey, COUNT(*) AS c FROM lineitem i
                  WHERE i.l_returnflag = lineitem.l_returnflag
                  GROUP BY 1)) AS f2_exact,
           (SELECT CAST(SUM(s * s) AS BIGINT) FROM (
              SELECT SUM(((h >> j.j) & 1) * 2 - 1) AS s
              FROM (SELECT CAST(('0x' || substr(md5('ams:' ||
                           CAST(l_orderkey AS VARCHAR)), 1, 15))
                           AS BIGINT) AS h
                    FROM lineitem i
                    WHERE i.l_returnflag = lineitem.l_returnflag),
                   (SELECT unnest(range(16)) AS j) j
              GROUP BY j.j)) AS ams_sum_sq,
           CAST(CASE (SELECT COUNT(*) FROM lineitem)
             WHEN 6000 THEN
               CASE l_returnflag WHEN 'N' THEN 1115 WHEN 'A' THEN 1074
                                 WHEN 'R' THEN 1083 END
             WHEN 60000 THEN
               CASE l_returnflag WHEN 'N' THEN 10999 WHEN 'A' THEN 11067
                                 WHEN 'R' THEN 11079 END
             WHEN 600000 THEN
               CASE l_returnflag WHEN 'N' THEN 109560 WHEN 'A' THEN 107963
                                 WHEN 'R' THEN 106958 END
           END AS BIGINT) AS hll_estimate_pinned,
           TRUE AS hll_within_5pct,
           TRUE AS kll_median_in_decile
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregation", "sketch", "approx"),
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB aggregation path: HLL++ distinct counts
    (``approx_count_distinct``, mergeable partial sketches — one pass,
    no distinct shuffle) and quantile sketches (``percentile_approx``)
    per return flag.

    Oracle-backed self-verifying contract (r3): sketch outputs are
    engine-specific values, so the hashed columns are the EXACT
    per-group count and distinct count (genuinely SQL-derived) plus
    two error-bound booleans the sketches must satisfy — HLL++ within
    its configured 5% relative standard deviation ×2.5, and the KLL
    median between the exact 45th and 55th percentiles.

    ``f2_exact`` / ``ams_sum_sq`` (r7 session 3): the second-moment
    pair — exact F₂ = Σ c² rides the same two-level aggregate as the
    exact distinct (no extra scan), and the AMS tug-of-war sketch
    (operators.sketches.ams_f2_sum_sq, 16 md5-bit sign sums) emits an
    estimate the oracle re-derives EXACTLY — the skew/self-join-size
    estimator beside the HLL cardinality and KLL quantile sketches.

    The exact distinct count is a SEPARATE two-level aggregation
    (groupBy(flag, orderkey) → groupBy(flag)) broadcast-joined back on
    the 5-row result — NOT a ``countDistinct`` in the sketch
    aggregate. Mixing a distinct aggregate with the imperative sketch
    buffers (HLL++/ApproximatePercentile) forces Spark's
    distinct-rewrite Expand plan where the serialized sketch buffers
    ride a sort-based aggregate: 18.5s vs 2.5s at sf0.1 for identical
    output. Two column-pruned scans beat one Expand-doubled scan; at
    100 TB the exact side doesn't run at all — that is the point of
    the sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.percentile("l_extendedprice",
                     F.array(F.lit(0.45), F.lit(0.55)))
    exact_orders = (li.groupBy("l_returnflag", "l_orderkey")
                    .agg(F.count(F.lit(1)).alias("__c"))
                    .groupBy("l_returnflag")
                    .agg(F.count(F.lit(1)).alias("n_exact_orders"),
                         F.sum(F.col("__c") * F.col("__c"))
                         .alias("f2_exact")))
    # ams (r7 session 3): tug-of-war F2 sketch — one md5 per row, 16
    # bit-derived sign sums in the same combine-enabled aggregate
    # (operators.sketches.ams_f2_sum_sq); md5 signs make the estimate
    # itself oracle-exact, no pinning. The exact F2 rides the SAME
    # two-level aggregate as the exact distinct (no third scan).
    from ..operators.sketches import ams_f2_sum_sq

    ams = ams_f2_sum_sq(li, "l_orderkey", ["l_returnflag"], k=16)
    return (li.groupBy("l_returnflag")
            .agg(F.approx_count_distinct("l_orderkey", 0.02)
                  .alias("approx_orders"),
                 F.percentile_approx("l_extendedprice", 0.5, 1000)
                  .alias("approx_median"),
                 p.alias("p_band"),
                 F.count(F.lit(1)).alias("n"))
            .join(F.broadcast(exact_orders), "l_returnflag")
            .join(F.broadcast(ams), "l_returnflag")
            .select(
                "l_returnflag", "n", "n_exact_orders",
                "f2_exact", "ams_sum_sq",
                # pinned-estimate contract (r5): emit the true HLL++
                # value at driver-testdata scales (total-count key via
                # a 5-row window sum), NULL elsewhere — matches the
                # oracle's per-scale literals
                F.when(F.sum("n").over(W.partitionBy())
                       .isin(6000, 60000, 600000),
                       F.col("approx_orders")).cast("long")
                .alias("hll_estimate_pinned"),
                (F.abs(F.col("approx_orders") - F.col("n_exact_orders"))
                 <= 0.05 * 2.5 * F.col("n_exact_orders") + 1)
                .alias("hll_within_5pct"),
                F.col("approx_median").between(
                    F.element_at("p_band", 1), F.element_at("p_band", 2))
                .alias("kll_median_in_decile")))


def _ewma_sql(alpha: float = 0.5, horizon: int = 8) -> tuple[str, str]:
    """Unrolled finite-horizon EWMA numerator/denominator for the q56
    oracle — weight literals are repr()'d from the SAME Python floats
    the engine embeds via F.lit, summed in the same left-to-right
    order, so the doubles agree to rounding (the
    ``_pagerank_iter_ctes`` trick)."""
    lag = ("LAG(value, {j}) OVER (PARTITION BY user_id "
           "ORDER BY CAST(ts AS TIMESTAMP), event_id)")
    nums, dens = ["0.0"], ["0.0"]
    for j in range(horizon):
        wj = repr((1.0 - alpha) ** j)
        lj = lag.format(j=j)
        nums.append(f"CASE WHEN {lj} IS NULL THEN 0.0 "
                    f"ELSE CAST('{wj}' AS DOUBLE) * {lj} END")
        dens.append(f"CASE WHEN {lj} IS NULL THEN 0.0 "
                    f"ELSE CAST('{wj}' AS DOUBLE) END")
    return " + ".join(nums), " + ".join(dens)


_EWMA_NUM, _EWMA_DEN = _ewma_sql(alpha=0.5, horizon=8)


def _holt_sql(alpha: float = 0.5, beta: float = 0.3,
              horizon: int = 8) -> tuple[str, str, str]:
    """Unrolled finite-horizon Holt level/trend dot products + the
    full-window guard for the q56 oracle — weight literals come from
    the SAME ``holt_weights`` floats the engine embeds via F.lit,
    summed in the same left-to-right lag order (newest first)."""
    from ..operators.relational import holt_weights

    lvl_w, trd_w = holt_weights(alpha, beta, horizon)
    lag = ("LAG(value, {j}) OVER (PARTITION BY user_id "
           "ORDER BY CAST(ts AS TIMESTAMP), event_id)")
    lvls, trds, conds = ["0.0"], ["0.0"], []
    h = int(horizon)
    for j in range(h):
        lj = lag.format(j=j)
        lvls.append(f"CAST('{repr(lvl_w[h - 1 - j])}' AS DOUBLE) * {lj}")
        trds.append(f"CAST('{repr(trd_w[h - 1 - j])}' AS DOUBLE) * {lj}")
        conds.append(f"{lj} IS NOT NULL")
    return " + ".join(lvls), " + ".join(trds), " AND ".join(conds)


_HOLT_LVL, _HOLT_TRD, _HOLT_COND = _holt_sql(alpha=0.5, beta=0.3,
                                             horizon=8)


def _acf_sql(max_lag: int) -> str:
    """q56 ``acf`` oracle leg — one per-user aggregate per lag over
    the SAME lag-chain windows the engine's single partition-sort
    window produces (operators.relational.acf)."""
    lag_cols = ", ".join(
        f"LAG(value, {j}) OVER (PARTITION BY user_id "
        f"ORDER BY CAST(ts AS TIMESTAMP), event_id) AS lx{j}"
        for j in range(1, max_lag + 1))
    legs = " UNION ALL ".join(f"""
      SELECT user_id, CAST({j} AS BIGINT) AS lag,
             SUM((value - m) * (value - m)) AS ss,
             SUM((value - m) * (lx{j} - m)) AS s,
             CAST(COUNT((value - m) * (lx{j} - m)) AS BIGINT) AS np
      FROM acf_t GROUP BY user_id""" for j in range(1, max_lag + 1))
    return f"""
    SELECT 'acf', x.lag, x.user_id, NULL,
           CASE WHEN x.ss > 0 THEN ROUND(x.s / x.ss, 4) END, x.np
    FROM (
      WITH acf_t AS (
        SELECT user_id, value,
               AVG(value) OVER (PARTITION BY user_id) AS m,
               {lag_cols}
        FROM events)
      {legs}) x"""


_ACF_SQL = _acf_sql(max_lag=5)


# q56/q76 oracle legs (r8, VERDICT r7 #5 — same de-overload as
# q62/q75): the shared event CTEs plus one SQL block per part
# tag; q56 keeps the headline temporal joins, q76 takes the
# forecasting/changepoint/overlap companions past the driver
# prefix.
_Q56_SHARED_WITH = """
    WITH views AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'view'),
    purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             MAX(value) AS pvalue
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2),
    iv AS (
      SELECT user_id,
             MIN(CAST(ts AS TIMESTAMP)) AS w_start,
             MIN(CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour' AS w_end
      FROM events GROUP BY user_id)
"""

_Q56_LEG_SQL: dict[str, str] = {
    "asof": """
    SELECT 'asof' AS part, v.event_id AS id, v.user_id,
           p.ts AS ts_asof, ROUND(p.pvalue, 4) AS v,
           CAST(NULL AS BIGINT) AS n
    FROM views v
    ASOF LEFT JOIN purchases p
      ON v.user_id = p.user_id AND v.ts >= p.ts
""",
    "range": """
    SELECT 'range', NULL, e.user_id, NULL,
           ROUND(SUM(e.value), 4), CAST(COUNT(*) AS BIGINT)
    FROM events e JOIN iv ON e.user_id = iv.user_id
      AND CAST(e.ts AS TIMESTAMP) >= iv.w_start
      AND CAST(e.ts AS TIMESTAMP) <= iv.w_end
    GROUP BY e.user_id
""",
    "resample": """
    -- r5: per-user 15-min resample of the first hour with forward-fill
    -- gap repair (operators.relational.resample_ffill)
    SELECT 'resample',
           CAST(date_diff('second', f.w_start, f.bts) / 900 AS BIGINT),
           f.user_id, f.bts, ROUND(f.fv, 4),
           CAST(CASE WHEN f.sv IS NULL THEN 1 ELSE 0 END AS BIGINT)
    FROM (
      WITH grid AS (
        SELECT user_id, w_start,
               unnest(generate_series(w_start, w_end,
                                      INTERVAL 15 MINUTE)) AS bts
        FROM iv),
      obs AS (
        SELECT e.user_id,
               iv.w_start + CAST(floor(date_diff('second', iv.w_start,
                   CAST(e.ts AS TIMESTAMP)) / 900.0) AS INTEGER) * 900
                   * INTERVAL 1 SECOND AS bts,
               SUM(e.value) AS sv
        FROM events e JOIN iv USING (user_id)
        WHERE CAST(e.ts AS TIMESTAMP) >= iv.w_start
          AND CAST(e.ts AS TIMESTAMP) <= iv.w_end
        GROUP BY 1, 2)
      SELECT g.user_id, g.w_start, g.bts, o.sv,
             last_value(o.sv IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.bts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
      FROM grid g LEFT JOIN obs o
        ON g.user_id = o.user_id AND g.bts = o.bts) f
""",
    "interp": """
    -- r5 session 5: linear-interpolation gap repair on the same grid
    -- (operators.relational.resample_interp): interior gaps linear on
    -- bucket index, trailing gaps carry forward, leading gaps NULL
    SELECT 'interp', f.bi, f.user_id, f.bts,
           ROUND(CASE WHEN f.sv IS NOT NULL THEN f.sv
                      WHEN f.pv IS NOT NULL AND f.nv IS NOT NULL
                      THEN f.pv + (f.nv - f.pv) * (f.bi - f.pi)
                                  / (f.ni - f.pi)
                      WHEN f.pv IS NOT NULL THEN f.pv END, 4),
           CAST(CASE WHEN f.sv IS NULL THEN 1 ELSE 0 END AS BIGINT)
    FROM (
      WITH grid AS (
        SELECT user_id, w_start,
               unnest(generate_series(w_start, w_end,
                                      INTERVAL 15 MINUTE)) AS bts
        FROM iv),
      obs AS (
        SELECT e.user_id,
               iv.w_start + CAST(floor(date_diff('second', iv.w_start,
                   CAST(e.ts AS TIMESTAMP)) / 900.0) AS INTEGER) * 900
                   * INTERVAL 1 SECOND AS bts,
               SUM(e.value) AS sv
        FROM events e JOIN iv USING (user_id)
        WHERE CAST(e.ts AS TIMESTAMP) >= iv.w_start
          AND CAST(e.ts AS TIMESTAMP) <= iv.w_end
        GROUP BY 1, 2),
      g2 AS (
        SELECT g.user_id, g.bts,
               CAST(date_diff('second', g.w_start, g.bts) / 900
                    AS BIGINT) AS bi,
               o.sv
        FROM grid g LEFT JOIN obs o
          ON g.user_id = o.user_id AND g.bts = o.bts)
      SELECT user_id, bts, bi, sv,
             last_value(sv IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN sv IS NOT NULL THEN bi END
                        IGNORE NULLS) OVER wb AS pi,
             first_value(sv IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN sv IS NOT NULL THEN bi END
                         IGNORE NULLS) OVER wf AS ni
      FROM g2
      WINDOW wb AS (PARTITION BY user_id ORDER BY bi
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY bi
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ) f
""",
    "anomaly": """
    -- r5 session 3: median/MAD modified z-score outliers per
    -- event_type (operators.relational.robust_anomalies) — both
    -- engines' EXACT interpolated medians must agree
    -- r7: micro-quantized inputs (the q07 cmat discipline) — integer
    -- medians interpolate identically on both engines, killing the
    -- 4 dp-boundary drift the raw-double form showed at sf0.1
    SELECT 'anomaly', e.event_id, e.user_id, NULL,
           ROUND(0.6745 * (e.vq - s.med) / s.mad, 4),
           CAST(NULL AS BIGINT)
    FROM (SELECT *, CAST(ROUND(value * 1000000) AS BIGINT) AS vq
          FROM events) e
    JOIN (
      WITH eq AS (SELECT event_type,
                         CAST(ROUND(value * 1000000) AS BIGINT) AS vq
                  FROM events),
      med AS (SELECT event_type, median(vq) AS med
              FROM eq GROUP BY 1)
      SELECT m.event_type, m.med, d.mad
      FROM med m JOIN (
        SELECT e2.event_type, median(abs(e2.vq - m2.med)) AS mad
        FROM eq e2 JOIN med m2 USING (event_type)
        GROUP BY 1) d USING (event_type)) s
      USING (event_type)
    WHERE s.mad > 0
      AND abs(0.6745 * (e.vq - s.med) / s.mad) > 3.5
""",
    "ewma": f"""
    -- r5 session 4: finite-horizon EWMA (alpha=0.5, H=8) per user —
    -- same unrolled weight literals, same summation order as the
    -- engine's lag-chain window expression
    SELECT 'ewma', event_id, user_id, NULL,
           ROUND(({_EWMA_NUM}) / ({_EWMA_DEN}), 4), NULL
    FROM events
""",
    "holt": f"""
    -- r7: finite-horizon Holt double-exponential forecast
    -- (alpha=0.5, beta=0.3, H=8) per user — the linear fold
    -- collapsed onto shared per-lag weight literals (operators.
    -- relational.holt_weights), full-window rows only
    SELECT 'holt', event_id, user_id, NULL,
           CASE WHEN {_HOLT_COND}
                THEN ROUND(({_HOLT_LVL}) + ({_HOLT_TRD}), 4) END,
           NULL
    FROM events
""",
    "cusum": """
    -- r5 session 4: CUSUM change-point per user — peak |S_t| of the
    -- mean-deviation cumsum, argmax on the ROUNDED statistic (float
    -- discipline: the series mean is an unordered double aggregate)
    -- r7: micro-int window sums are exact, so the statistic is one
    -- fixed double tree (explicit Σ/n, no engine-accumulated AVG)
    -- and the argmax ranks on the EXACT statistic — no rounded key.
    -- v is the peak statistic in MICRO units rounded to an integer
    -- (the seasonal-part convention): integer rounding is exact on
    -- both engines, while ROUND(x, 4) already diverged once on a
    -- boundary value (Spark BigDecimal vs DuckDB scaled-multiply)
    SELECT 'cusum', m.event_id, m.user_id, NULL,
           ROUND(m.s, 0), m.np
    FROM (
      SELECT event_id, user_id, s, np,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY s DESC, tsx, event_id) AS rk
      FROM (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsx,
               ABS(CAST(SUM(vq) OVER w_cum AS DOUBLE)
                   - CAST(COUNT(*) OVER w_cum AS DOUBLE)
                     * (CAST(SUM(vq) OVER w_all AS DOUBLE)
                        / CAST(COUNT(*) OVER w_all AS DOUBLE))) AS s,
               CAST(COUNT(*) OVER w_all AS BIGINT) AS np
        FROM (SELECT *, CAST(ROUND(value * 1000000) AS BIGINT) AS vq
              FROM events)
        WINDOW w_cum AS (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW),
               w_all AS (PARTITION BY user_id))) m
    WHERE m.rk = 1
""",
    "seasonal": """
    -- r5 session 5: additive seasonal decomposition per user
    -- (operators.relational.seasonal_decompose, period 6, ±3 MA):
    -- trend as the engine's EXPLICIT left-to-right lag/lead chain
    -- (windowed AVG sums in engine-specific order), detrended values
    -- quantized to micro-units so the phase sums are order-exact
    SELECT 'seasonal', s.event_id, s.user_id, NULL,
           s.resid_micro, s.phase
    FROM (
      SELECT event_id, user_id, phase,
             dm - SUM(dm) OVER wp * 1.0 / COUNT(dm) OVER wp
               AS resid_micro
      FROM (
        SELECT event_id, user_id,
               CAST((rn - 1) % 6 AS BIGINT) AS phase,
               ROUND((value - CASE WHEN t1 IS NOT NULL
                                    AND t2 IS NOT NULL
                                    AND t3 IS NOT NULL
                                    AND t5 IS NOT NULL
                                    AND t6 IS NOT NULL
                                    AND t7 IS NOT NULL
                  THEN (((((((0.0 + t1) + t2) + t3) + value)
                          + t5) + t6) + t7) / 7.0 END)
                  * 1000000, 0) AS dm
        FROM (
          SELECT event_id, user_id, value,
                 ROW_NUMBER() OVER w AS rn,
                 LAG(value, 3) OVER w AS t1,
                 LAG(value, 2) OVER w AS t2,
                 LAG(value, 1) OVER w AS t3,
                 LEAD(value, 1) OVER w AS t5,
                 LEAD(value, 2) OVER w AS t6,
                 LEAD(value, 3) OVER w AS t7
          FROM events
          WINDOW w AS (PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id)))
      WINDOW wp AS (PARTITION BY user_id, phase)) s
""",
    "overlap": """
    -- r6: interval-overlap join — plain theta overlap here, the
    -- engine's bin-and-refine plan must be row-identical
    SELECT 'overlap', g.a_user, NULL, NULL, NULL, g.n_ov
    FROM (
      WITH aiv AS (SELECT user_id AS a_user, w_start, w_end
                   FROM iv WHERE user_id % 100 = 0),
      biv AS (SELECT CAST(ts AS TIMESTAMP) AS p_start,
                     CAST(ts AS TIMESTAMP) + INTERVAL 15 MINUTE
                       AS p_end
              FROM events
              WHERE event_type = 'purchase' AND user_id % 10 = 0)
      SELECT a.a_user, CAST(COUNT(b.p_start) AS BIGINT) AS n_ov
      FROM aiv a LEFT JOIN biv b
        ON a.w_start <= b.p_end AND b.p_start <= a.w_end
      GROUP BY 1) g
""",
    "acf": f"""
    -- r5 session 5: sample autocorrelation r_1..r_5 per user
    -- (operators.relational.acf) — same lag-chain windows, same
    -- global-mean centering, ratio rounded on both engines
    {_ACF_SQL}
""",
}

Q56_PARTS = ('asof', 'range', 'resample', 'interp', 'anomaly', 'ewma', 'acf', 'seasonal')
Q76_PARTS = ('holt', 'cusum', 'overlap')


def _q56_oracle(tags) -> str:
    union = "\n    UNION ALL\n".join(_Q56_LEG_SQL[t] for t in tags)
    # _Q56_SHARED_WITH already begins with the WITH keyword; explicit
    # casts keep a bare-NULL first leg from drifting the column types
    # (tests/test_oracle_types.py)
    return (f"{_Q56_SHARED_WITH}"
            f" SELECT CAST(part AS VARCHAR) AS part,"
            f" CAST(id AS BIGINT) AS id,"
            f" CAST(user_id AS BIGINT) AS user_id,"
            f" CAST(ts_asof AS TIMESTAMP) AS ts_asof,"
            f" CAST(v AS DOUBLE) AS v, CAST(n AS BIGINT) AS n FROM (\n"
            f"{union}\n    ) u(part, id, user_id, ts_asof, v, n)")


@register(
    "q56_temporal_join_suite",
    oracle=_q56_oracle(Q56_PARTS),
    tags=("join", "asof", "range", "resample", "anomaly", "ewma",
          "acf", "interp", "seasonal"),
    parts=Q56_PARTS,
)
def temporal_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-join suite, HEADLINE slot: as-of join, binned range
    join, resample+ffill, interpolation, robust anomalies, EWMA,
    ACF, and seasonal decomposition. Leg construction and design
    notes live in :func:`_temporal_suite_legs`; the Holt forecast,
    CUSUM changepoint, and interval-overlap companions moved to
    ``q76_temporal_extras`` (r8 de-overload — VERDICT r7 #5).
    """
    legs = _temporal_suite_legs(spark, sf_dir)
    out = legs[Q56_PARTS[0]]
    for t in Q56_PARTS[1:]:
        out = out.unionByName(legs[t])
    return out


@register(
    "q76_temporal_extras",
    oracle=_q56_oracle(Q76_PARTS),
    tags=("holt", "cusum", "overlap", "forecast", "changepoint"),
    parts=Q76_PARTS,
)
def temporal_extras_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal suite, second slot (r8, VERDICT r7 #5): the Holt
    double-exponential forecast, CUSUM changepoint, and
    interval-overlap join over the same event streams.
    Driver-checked as q09_temporal_extras in r9 (CORRECTNESS_r09
    green); rotated back OUT of the 50-entry prefix in r10 (renamed
    q09->q76) to make room for the never-checked companions (VERDICT
    r9 #1). Held green by tests/driver_sim.py (SELFCHECK) +
    tests/test_oracle_parity.py meanwhile; excluded from bench.py
    (see q75's note).
    """
    legs = _temporal_suite_legs(spark, sf_dir)
    out = legs[Q76_PARTS[0]]
    for t in Q76_PARTS[1:]:
        out = out.unionByName(legs[t])
    return out


def _temporal_suite_legs(spark: SparkSession,
                         sf_dir: str) -> "dict[str, DataFrame]":
    """Per-leg builders for the q56/q76 temporal suites:
    driver prefix slots):

    * ``asof`` — as-of join (operators.relational.asof_join): every
      'view' event annotated with the latest 'purchase' at-or-before it
      per user — checked against DuckDB's NATIVE ASOF JOIN. Purchases
      pre-aggregated to one row per (user, ts) so tie-breaks can't
      differ between engines.
    * ``range`` — binned range join (operators.relational.
      range_join_binned): events inside each user's first-hour window,
      counted per user. The oracle is the plain inequality join — the
      operator must be row-identical while planning as a hash join on
      (bin, user) instead of a nested loop.
    * ``resample`` (r5) — per-user 15-minute resampling of the same
      first-hour windows with forward-fill gap repair
      (operators.relational.resample_ffill): sequence()+explode grid,
      bucket aggregation BEFORE the grid join, one last(ignorenulls)
      window pass. Every (user, bucket) row — index, bucket timestamp,
      filled value, gap flag — is oracle-recomputed via
      generate_series + last_value IGNORE NULLS.
    * ``anomaly`` — r5 session 3: robust outlier detection per
      event_type via the median/MAD modified z-score
      (operators.relational.robust_anomalies, |mz| > 3.5). Exact
      interpolated medians on both engines, so every flagged event_id
      and its rounded score cross-check — the outlier filter whose
      baseline the outliers can't inflate (unlike mean/stddev).
    * ``ewma`` — r5 session 4: finite-horizon exponentially-weighted
      smoothing of each user's value series
      (operators.relational.ewma_smooth, α=0.5, H=8): one
      partition-sort window, every term a codegen ``lag`` expression;
      head-of-series renormalization (pandas adjust=True semantics).
      The oracle unrolls the same weight literals in the same
      summation order.
    * ``holt`` — r7: finite-horizon Holt double-exponential forecast
      (operators.relational.holt_smooth, α=0.5, β=0.3, H=8) — the
      trend-aware companion to ``ewma``: the linear level/trend fold
      collapsed onto shared per-lag weight literals
      (``holt_weights``), full-window rows only, ŷ = level + trend.
    * ``cusum`` — r5 session 4: CUSUM change-point location per user
      (operators.relational.cusum_changepoint): the event where the
      cumulative mean-deviation sum peaks in absolute value, argmax
      taken on the ROUNDED statistic so the pick is cross-engine
      deterministic. id = the peak event, v = the peak |S_t|,
      n = series length.
    * ``interp`` — r5 session 5: the same 15-minute grid repaired by
      time-weighted LINEAR interpolation
      (operators.relational.resample_interp): interior gaps linear on
      the bucket index between surrounding observations, trailing
      gaps constant-extrapolated, leading gaps NULL. Both anchor
      lookups (last behind / first ahead, IGNORE NULLS) ride one
      window sort; the oracle re-derives every filled value from the
      same two frames.
    * ``acf`` — r5 session 5: sample autocorrelation r_1..r_5 of each
      user's value series (operators.relational.acf): one
      partition-sort window feeds every lag product as a codegen
      ``lag`` expression, one grouped aggregate sums them, ``stack``
      unpivots lags to rows. id = lag, v = r_lag, n = overlapping
      pairs; constant series yield NULL r. The oracle re-derives the
      identical estimator per lag from the same window chain.
    * ``seasonal`` — r5 session 5: additive seasonal decomposition
      (operators.relational.seasonal_decompose, period 6, ±3 centered
      MA): trend from one partition-sort window (NULL at edges),
      positional phase means of the detrended series from a second
      frame-less window on (user, phase), residual emitted per event
      in exact micro-units (v = resid·10⁶ — integral dm minus an
      exact-operand division, bit-identical across engines with NO
      rounding; a 4-dp ROUND was observed to flip at a decimal half
      where the two engines' round implementations disagree on the
      binary value), n = phase. The MA-decomposition stage of STL,
      fully window-algebraic — no join, no UDF.
    * ``overlap`` — r6: INTERVAL-overlap join across entities
      (operators.relational.interval_overlap_join_binned): sampled
      first-hour windows × sampled 15-minute purchase exposures,
      a_start ≤ b_end AND b_start ≤ a_end. Both sides explode to
      bins; one meeting per pair via the first-common-bin rule
      (bin == max(lo_a, lo_b) — stateless dedup, no distinct, no
      second shuffle), exact inequality refine. The oracle is the
      plain theta overlap join — row-identical, while the engine
      plans a hash join instead of BroadcastNestedLoop (the naive
      theta plan is O(|A|·|B|)). id = window owner, n = overlapping
      exposures (zeros kept).
    """
    from ..operators.relational import (asof_join,
                                        interval_overlap_join_binned,
                                        range_join_binned)

    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view") \
                  .select("event_id", "user_id", "ts")
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("pvalue")))
    asof = (asof_join(views, purchases, ["user_id"], "ts",
                      right_value_cols=["pvalue"])
            .select(F.lit("asof").alias("part"),
                    F.col("event_id").alias("id"),
                    "user_id",
                    F.col("ts_asof"),
                    fround(F.col("pvalue_asof")).alias("v"),
                    F.lit(None).cast("long").alias("n")))

    iv = (events.groupBy("user_id")
          .agg(F.min("ts").alias("w_start"))
          .withColumn("w_end",
                      F.col("w_start") + F.expr("INTERVAL 1 HOUR")))
    joined = range_join_binned(events, iv, "ts", "w_start", "w_end",
                               bin_seconds=900, extra_keys=["user_id"])

    # overlap: INTERVAL x INTERVAL join across entities (no shared
    # key): sampled users' first-hour windows vs sampled 15-minute
    # purchase exposures — bin-and-refine on both sides, one meeting
    # per pair via the first-common-bin rule, exact inequality refine;
    # the oracle is the plain overlap theta join (row-identical)
    a_iv = (iv.filter(F.col("user_id") % 100 == 0)
            .select(F.col("user_id").alias("a_user"),
                    "w_start", "w_end"))
    b_iv = (events.filter((F.col("event_type") == "purchase")
                          & (F.col("user_id") % 10 == 0))
            .select(F.col("ts").alias("p_start"),
                    (F.col("ts") + F.expr("INTERVAL 15 MINUTES"))
                    .alias("p_end")))
    ov_pairs = interval_overlap_join_binned(
        a_iv, b_iv, "w_start", "w_end", "p_start", "p_end",
        bin_seconds=900)
    ov = (a_iv.join(ov_pairs.groupBy("a_user")
                    .agg(F.count(F.lit(1)).alias("n_ov")),
                    "a_user", "left")
          .select(F.lit("overlap").alias("part"),
                  F.col("a_user").alias("id"),
                  F.lit(None).cast("long").alias("user_id"),
                  F.lit(None).cast("timestamp_ntz").alias("ts_asof"),
                  F.lit(None).cast("double").alias("v"),
                  F.coalesce("n_ov", F.lit(0)).alias("n")))
    rng = (joined.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n"),
                fround(F.sum("value")).alias("v"))
           .select(F.lit("range").alias("part"),
                   F.lit(None).cast("long").alias("id"),
                   "user_id",
                   F.lit(None).cast("timestamp_ntz").alias("ts_asof"),
                   "v", "n"))

    from ..operators.relational import resample_ffill

    rs = (resample_ffill(events, iv, "ts", "value", ["user_id"],
                         step_seconds=900)
          .select(F.lit("resample").alias("part"),
                  F.col("bucket_idx").alias("id"),
                  "user_id",
                  F.col("bucket_ts").alias("ts_asof"),
                  fround(F.col("filled_sum")).alias("v"),
                  F.col("is_gap").cast("long").alias("n")))

    from ..operators.relational import resample_interp

    ip = (resample_interp(events, iv, "ts", "value", ["user_id"],
                          step_seconds=900)
          .select(F.lit("interp").alias("part"),
                  F.col("bucket_idx").alias("id"),
                  "user_id",
                  F.col("bucket_ts").alias("ts_asof"),
                  fround(F.col("interp_sum")).alias("v"),
                  F.col("is_gap").cast("long").alias("n")))

    from ..operators.relational import robust_anomalies

    # micro-quantized (r7): exact-integer inputs make the quantile
    # interpolations — and so the modified-z and the CUSUM statistic
    # below — bit-identical across engines (the q07 cmat pattern);
    # the raw-double forms drifted at the 4 dp boundary on a few
    # sf0.1 rows (cross-engine median/avg last-ulp)
    evq = events.withColumn(
        "value_q", F.round(F.col("value") * 1e6).cast("long"))
    anom = (robust_anomalies(evq, ["event_type"], "value_q",
                             threshold=3.5)
            .select(F.lit("anomaly").alias("part"),
                    F.col("event_id").alias("id"),
                    "user_id",
                    F.lit(None).cast("timestamp_ntz").alias("ts_asof"),
                    fround(F.col("mz")).alias("v"),
                    F.lit(None).cast("long").alias("n")))

    from ..operators.relational import ewma_smooth

    ew = (ewma_smooth(events, ["user_id"], ["ts", "event_id"], "value",
                      alpha=0.5, horizon=8)
          .select(F.lit("ewma").alias("part"),
                  F.col("event_id").alias("id"),
                  "user_id",
                  F.lit(None).cast("timestamp_ntz").alias("ts_asof"),
                  fround(F.col("ewma")).alias("v"),
                  F.lit(None).cast("long").alias("n")))

    from ..operators.relational import holt_smooth

    ho = (holt_smooth(events, ["user_id"], ["ts", "event_id"], "value",
                      alpha=0.5, beta=0.3, horizon=8)
          .select(F.lit("holt").alias("part"),
                  F.col("event_id").alias("id"),
                  "user_id",
                  F.lit(None).cast("timestamp_ntz").alias("ts_asof"),
                  fround(F.col("holt_forecast")).alias("v"),
                  F.lit(None).cast("long").alias("n")))

    from ..operators.relational import cusum_changepoint

    # micro-int inputs → every window sum exact → the statistic is a
    # fixed double tree and the argmax needs NO rounded rank key;
    # v = peak statistic in MICRO units, integer-rounded (exact on
    # both engines — the 4 dp fractional ROUND diverged once on a
    # boundary value)
    cp = (cusum_changepoint(evq, ["user_id"], ["ts", "event_id"],
                            "value_q")
          .select(F.lit("cusum").alias("part"),
                  F.col("event_id").alias("id"),
                  "user_id",
                  F.lit(None).cast("timestamp_ntz").alias("ts_asof"),
                  F.round(F.col("cusum_stat"), 0).alias("v"),
                  F.col("n_points").alias("n")))

    from ..operators.relational import acf as acf_fn

    ac = (acf_fn(events, ["user_id"], ["ts", "event_id"], "value",
                 max_lag=5)
          .select(F.lit("acf").alias("part"),
                  F.col("lag").cast("long").alias("id"),
                  "user_id",
                  F.lit(None).cast("timestamp_ntz").alias("ts_asof"),
                  fround(F.col("acf_r")).alias("v"),
                  F.col("n_pairs").alias("n")))

    from ..operators.relational import seasonal_decompose

    sd = (seasonal_decompose(events, ["user_id"], ["ts", "event_id"],
                             "value", period=6, half_window=3)
          .select(F.lit("seasonal").alias("part"),
                  F.col("event_id").alias("id"),
                  "user_id",
                  F.lit(None).cast("timestamp_ntz").alias("ts_asof"),
                  F.col("resid_micro").alias("v"),
                  F.col("phase").alias("n")))
    return {"asof": asof, "range": rng, "resample": rs,
            "interp": ip, "anomaly": anom, "ewma": ew, "holt": ho,
            "cusum": cp, "acf": ac, "seasonal": sd, "overlap": ov}


@register(
    "q64_frame_windows_suite",
    oracle="""
    SELECT 'ntile' AS part, bucket AS id,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 4) AS v1,
           ROUND(MAX(o_totalprice), 4) AS v2
    FROM (
      SELECT o_totalprice,
             CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
               AS bucket
      FROM orders)
    GROUP BY bucket
    UNION ALL
    SELECT 'trail', event_id,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id
             ORDER BY epoch(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS BIGINT),
           ROUND(SUM(value) OVER (
             PARTITION BY user_id
             ORDER BY epoch(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 4),
           CAST(user_id AS DOUBLE)
    FROM events
    """,
    tags=("window", "quantile", "range-frame"),
)
def frame_windows_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-domain window frames in one tagged result (merged r2
    q64+q66 to free driver prefix slots):

    * ``ntile`` — quantile bucketing via ``ntile`` (the relational form
      of QuantileDiscretizer — deterministic with a total order, unlike
      the ML estimator's approximate splits). Per-bucket count + range.
      At scale switch to percentile_approx split points + a when-chain
      bucketizer (q55's sketch path) — ntile needs a global sort.
    * ``trail`` — trailing 10-minute RANGE frame per user (count + sum
      of events in the last 600s, inclusive), the time-decayed-feature
      pattern. Range frames need a numeric ordering key: fractional
      epoch seconds on both engines (unix_timestamp would truncate and
      shift frame boundaries at sub-second offsets).
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
    ntile = (orders.withColumn("bucket", F.ntile(4).over(w))
             .groupBy("bucket")
             .agg(F.count(F.lit(1)).alias("n"),
                  fround(F.min("o_totalprice")).alias("v1"),
                  fround(F.max("o_totalprice")).alias("v2"))
             .select(F.lit("ntile").alias("part"),
                     F.col("bucket").cast("long").alias("id"),
                     "n", "v1", "v2"))
    events = load_table(spark, sf_dir, "events")
    tw = (W.partitionBy("user_id")
          .orderBy(F.col("ts").cast("timestamp").cast("double"))
          .rangeBetween(-600, 0))
    trail = events.select(
        F.lit("trail").alias("part"),
        F.col("event_id").alias("id"),
        F.count(F.lit(1)).over(tw).alias("n"),
        fround(F.sum("value").over(tw)).alias("v1"),
        F.col("user_id").cast("double").alias("v2"))
    return ntile.unionByName(trail)


@register(
    "q65_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT event_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k
      FROM events WHERE event_id < 200),
    b AS (
      SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k,
             CAST(COUNT(*) AS BIGINT) AS n_type
      FROM events GROUP BY 1)
    SELECT a.event_id, a.k, b.n_type
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    tags=("join", "null-semantics"),
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``eqNullSafe`` / SQL ``IS NOT DISTINCT
    FROM``): NULL keys MATCH each other — the semantics plain equality
    silently drops. Keys are nulled-out 'error' types so the NULL
    bucket is exercised."""
    events = load_table(spark, sf_dir, "events")
    k = F.when(F.col("event_type") == "error", None) \
         .otherwise(F.col("event_type"))
    a = events.filter(F.col("event_id") < 200) \
              .select("event_id", k.alias("k"))
    b = (events.select(k.alias("k"))
         .groupBy("k").agg(F.count(F.lit(1)).alias("n_type")))
    return a.join(F.broadcast(b), a["k"].eqNullSafe(b["k"])) \
            .select("event_id", a["k"].alias("k"), "n_type")




@register(
    "q72_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT token
      FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
            FROM documents)
      WHERE token <> ''),
    heavy AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY token HAVING COUNT(*) >= 60),
    -- r5 session 3: the d×w count-min counter grid rebuilt from the
    -- same md5-derived buckets the engine uses — every counter and
    -- every min-over-rows estimate is recomputed here bit-exactly
    counters AS (
      SELECT t.d,
             CAST(('0x' || substr(md5(token), 1 + 10 * t.d, 10))
                  AS BIGINT) % 512 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM toks CROSS JOIN range(3) t(d)
      GROUP BY 1, 2),
    est AS (
      SELECT h.token, MIN(c.c) AS est
      FROM heavy h CROSS JOIN range(3) t(d)
      JOIN counters c
        ON c.d = t.d
       AND c.bucket = CAST(('0x' || substr(md5(h.token), 1 + 10 * t.d, 10))
                           AS BIGINT) % 512
      GROUP BY h.token)
    SELECT 'mg' AS part, token AS k, cnt AS n1, CAST(NULL AS BIGINT) AS n2,
           CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
           CAST(NULL AS DOUBLE) AS v3
    FROM heavy
    UNION ALL
    SELECT 'cms', h.token, e.est, h.cnt, NULL, NULL, NULL
    FROM heavy h JOIN est e ON e.token = h.token
    UNION ALL
    -- r5 session 3: CMS join-size estimation (min-over-rows bucket
    -- inner product) between the 1995/1996 order key multisets,
    -- recomputed here from the same md5 grids, plus the exact size
    SELECT 'cms_join', 'o_custkey_95x96',
      (SELECT CAST(MIN(ip) AS BIGINT) FROM (
         SELECT a.d, SUM(a.c * b.c) AS ip
         FROM (SELECT t.d,
                      CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1 + 10 * t.d, 10))
                           AS BIGINT) % 512 AS bucket,
                      CAST(COUNT(*) AS BIGINT) AS c
               FROM orders CROSS JOIN range(3) t(d)
               WHERE year(o_orderdate) = 1995 GROUP BY 1, 2) a
         JOIN (SELECT t.d,
                      CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1 + 10 * t.d, 10))
                           AS BIGINT) % 512 AS bucket,
                      CAST(COUNT(*) AS BIGINT) AS c
               FROM orders CROSS JOIN range(3) t(d)
               WHERE year(o_orderdate) = 1996 GROUP BY 1, 2) b
           ON a.d = b.d AND a.bucket = b.bucket
         GROUP BY a.d)),
      (SELECT CAST(SUM(x.ca * y.cb) AS BIGINT) FROM
         (SELECT o_custkey, COUNT(*) AS ca FROM orders
          WHERE year(o_orderdate) = 1995 GROUP BY 1) x
         JOIN (SELECT o_custkey, COUNT(*) AS cb FROM orders
               WHERE year(o_orderdate) = 1996 GROUP BY 1) y
           USING (o_custkey)),
      NULL, NULL, NULL
    UNION ALL
    -- r5 session 4: pairwise association rules over order→brand
    -- baskets (operators.mining.association_rules) — every support /
    -- confidence / lift ratio re-derived from exact counts
    SELECT 'assoc', r.antecedent || '->' || r.consequent, r.pair_count,
           NULL, ROUND(r.pair_count * 1.0 / r.n, 4),
           ROUND(r.pair_count * 1.0 / r.n_a, 4),
           ROUND(r.pair_count * 1.0 * r.n / (r.n_a * r.n_b), 4)
    FROM (
      WITH b AS (
        SELECT l.l_orderkey AS basket, pa.p_brand AS item
        FROM lineitem l JOIN part pa ON l.l_partkey = pa.p_partkey
        GROUP BY 1, 2),
      nb AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n FROM b),
      it AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1),
      itf AS (SELECT it.item, it.c, nb.n FROM it, nb
              WHERE it.c >= CEIL(0.02 * nb.n)),
      pr AS (SELECT a.item AS x, b2.item AS y,
                    CAST(COUNT(*) AS BIGINT) AS pc
             FROM b a JOIN b b2 USING (basket)
             WHERE a.item < b2.item GROUP BY 1, 2),
      prf AS (SELECT pr.*, nb.n FROM pr, nb
              WHERE pr.pc >= CEIL(0.02 * nb.n))
      SELECT prf.x AS antecedent, prf.y AS consequent, prf.pc AS pair_count,
             prf.n, ia.c AS n_a, ib.c AS n_b
      FROM prf JOIN itf ia ON ia.item = prf.x
               JOIN itf ib ON ib.item = prf.y
      UNION ALL
      SELECT prf.y, prf.x, prf.pc, prf.n, ib.c, ia.c
      FROM prf JOIN itf ia ON ia.item = prf.x
               JOIN itf ib ON ib.item = prf.y) r
    WHERE r.pair_count * 1.0 / r.n_a >= 0.15
    """,
    tags=("sketch", "heavy-hitters", "count-min", "text", "mining"),
    parts=("mg", "cms", "cms_join", "assoc"),
)
def heavy_hitters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency sketches over the document corpus, tagged:

    * ``mg`` — frequent tokens (count ≥ 60) via the two-pass
      Misra-Gries candidate/verify operator
      (operators.sketches.heavy_hitters) — EXACT output, sketch-pruned
      plan. The oracle leg is the naive full GROUP BY...HAVING, so a
      hash match proves the sketch pass is a true superset filter
      (candidate recall 1.0) AND the verify pass counts exactly.
    * ``cms`` — r5 session 3: a 3×512 count-min sketch built over the
      same token stream (operators.sketches.cms_build), point-queried
      for each heavy token (cms_point_estimates). The md5-bucket
      construction is the KMV trick: DuckDB rebuilds the counter grid
      and the min-over-rows estimates bit-exactly, so the hash pins
      the sketch's CONTENTS, not a tolerance band. n2 carries the
      exact count — at this deliberately tight width the grid holds
      every collision the oracle must reproduce.
    * ``cms_join`` — r5 session 3: join-size forecasting between the
      1995/1996 order-key multisets from two grids alone
      (cms_join_size_estimate: min-over-rows bucket inner product,
      the AMS-style use). n1 = estimate (recomputed bit-exactly by
      the oracle from the same md5 grids), n2 = the true
      Σ fA(k)·fB(k).

    * ``assoc`` — r5 session 4: pairwise association rules over
      order→brand baskets (operators.mining.association_rules,
      support ≥ 2% of baskets, confidence ≥ 0.15). k is
      ``antecedent->consequent``; n1 the pair count; v1/v2/v3 the
      support/confidence/lift ratios, every one an exact-count
      ratio the oracle recomputes digit-for-digit.

    100 TB notes: the naive plan shuffles every distinct token (the
    full web-corpus vocabulary); the MG plan shuffles only
    sketch-surviving candidates (two scans, zero wide shuffle — see
    the operator docstring for the n/(k+1) arithmetic) and the CMS
    build's exchange carries ≤ d·w partial-aggregated rows per task
    no matter the corpus size; estimates then broadcast the grid.
    The assoc plan Apriori-prunes with a broadcast semi-join before
    the pair self-join and caps per-basket fan-out (mining.py module
    docstring) — the item-domain long tail never reaches a shuffle.
    """
    from ..operators.sketches import (
        cms_build,
        cms_point_estimates,
        heavy_hitters,
    )
    from ..operators.textual import WS_SPLIT

    docs = load_table(spark, sf_dir, "documents")
    # NOT persisted (measured, r5 session 5): the exploded stream is
    # scanned three times (MG candidate, MG verify, CMS build) but
    # re-tokenizing is as fast as cache reads at every tested scale,
    # and materializing an exploded token stream is exactly the
    # memory shape to avoid at 100 TB — the A/B showed ±0.1s.
    tokens = docs.select(
        F.explode(F.split(F.lower("text"), WS_SPLIT)).alias("token")) \
        .filter(F.col("token") != "")
    # persisted: the heavy set feeds both the mg rows and the cms
    # query-item side
    heavy = cache.persist(
        heavy_hitters(tokens, "token", threshold=60, capacity=8192))
    counters = cms_build(tokens, "token", depth=3, width=512)
    est = cms_point_estimates(counters, heavy.select("token"),
                              "token", depth=3, width=512)
    nullv = F.lit(None).cast("double")
    mg = heavy.select(F.lit("mg").alias("part"),
                      F.col("token").alias("k"),
                      F.col("cnt").alias("n1"),
                      F.lit(None).cast("long").alias("n2"),
                      nullv.alias("v1"), nullv.alias("v2"),
                      nullv.alias("v3"))
    cms = (heavy.join(est, "token")
           .select(F.lit("cms").alias("part"),
                   F.col("token").alias("k"),
                   F.col("cms_est").alias("n1"),
                   F.col("cnt").alias("n2"),
                   nullv.alias("v1"), nullv.alias("v2"),
                   nullv.alias("v3")))

    # r5 session 3: join-size forecasting from two synopses — the
    # sketch answers "how big would this join be" without scanning
    # either side at decision time (cms_join_size_estimate docstring)
    from ..operators.sketches import cms_join_size_estimate

    orders = load_table(spark, sf_dir, "orders")
    o95 = (orders.filter(F.year("o_orderdate") == 1995)
           .select("o_custkey"))
    o96 = (orders.filter(F.year("o_orderdate") == 1996)
           .select("o_custkey"))
    est_join = cms_join_size_estimate(
        cms_build(o95, "o_custkey", depth=3, width=512),
        cms_build(o96, "o_custkey", depth=3, width=512))
    exact_join = (o95.groupBy("o_custkey")
                  .agg(F.count(F.lit(1)).alias("ca"))
                  .join(o96.groupBy("o_custkey")
                        .agg(F.count(F.lit(1)).alias("cb")),
                        "o_custkey")
                  .agg(F.sum(F.col("ca") * F.col("cb"))
                       .alias("exact_join")))
    cms_join = (est_join.crossJoin(exact_join)
                .select(F.lit("cms_join").alias("part"),
                        F.lit("o_custkey_95x96").alias("k"),
                        F.col("join_size_est").alias("n1"),
                        F.col("exact_join").alias("n2"),
                        nullv.alias("v1"), nullv.alias("v2"),
                        nullv.alias("v3")))

    # r5 session 4: market-basket association rules over order→brand
    # baskets — the frequent-pattern-mining family (mining.py)
    from ..operators.mining import association_rules

    li = load_table(spark, sf_dir, "lineitem")
    part_dim = load_table(spark, sf_dir, "part")
    branded = (li.select("l_orderkey", "l_partkey")
               .join(F.broadcast(part_dim.select("p_partkey", "p_brand")),
                     F.col("l_partkey") == F.col("p_partkey")))
    rules = association_rules(branded, "l_orderkey", "p_brand",
                              min_support=0.02, min_confidence=0.15)
    assoc = rules.select(
        F.lit("assoc").alias("part"),
        F.concat(F.col("antecedent"), F.lit("->"),
                 F.col("consequent")).alias("k"),
        F.col("pair_count").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        fround(F.col("support")).alias("v1"),
        fround(F.col("confidence")).alias("v2"),
        fround(F.col("lift")).alias("v3"))
    return (mg.unionByName(cms).unionByName(cms_join)
            .unionByName(assoc))


@register(
    "q19_scd2_merge",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type AS tier,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events),
    d AS (
      SELECT *, LAG(tier) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev
      FROM e),
    v AS (
      SELECT user_id, tier, ts, event_id FROM d
      WHERE prev IS DISTINCT FROM tier)
    SELECT user_id, tier, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           (LEAD(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) IS NULL) AS is_current
    FROM v
    """,
    tags=("scd2", "merge", "cdc", "window"),
)
def scd2_merge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension maintenance: treat events as a CDC log of each
    user's tier (event_type), split it at the 75th-percentile-of-range
    timestamp, build history from the old 3/4
    (operators.relational.scd2_history), then INCREMENTALLY merge the
    new 1/4 (scd2_merge). The oracle rebuilds from the FULL log with
    window SQL — so a hash match proves the incremental merge is
    byte-identical to a full rebuild: close-at-boundary, cross-boundary
    no-op collapse, new-key inserts all exact.

    100 TB notes: the merge touches only batch keys (broadcast
    semi-join restriction) — the point of incremental SCD2 is NOT
    rescanning years of history for a daily batch.
    """
    from ..operators.relational import scd2_history, scd2_merge

    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "event_id",
                  F.col("event_type").alias("tier"),
                  F.col("ts").cast("timestamp").alias("ts")))
    # Split point derived IN-QUERY (VERDICT r3 #7): a broadcast 1-row
    # min/max aggregate cross-joined into the scan replaces the former
    # driver-side .first() action — no separate scan-job before the
    # main one. `div` on unix micros reproduces the old Python
    # `lo + (hi - lo) * 3 // 4` timedelta flooring exactly. At 100 TB
    # the cutoff is a parameter (the batch date), not data-derived.
    bounds = ev.agg(F.unix_micros(F.min("ts")).alias("lo_us"),
                    F.unix_micros(F.max("ts")).alias("hi_us"))
    split = (ev.crossJoin(F.broadcast(bounds))
             .withColumn("cutoff", F.timestamp_micros(
                 F.expr("lo_us + (hi_us - lo_us) * 3 div 4")))
             .drop("lo_us", "hi_us"))
    old = split.filter(F.col("ts") < F.col("cutoff")).drop("cutoff")
    new = split.filter(F.col("ts") >= F.col("cutoff")).drop("cutoff")
    hist = scd2_history(old, ["user_id"], ["tier"], "ts", ["event_id"])
    merged = scd2_merge(hist, new, ["user_id"], ["tier"], "ts",
                        ["event_id"])
    return merged.select("user_id", "tier", "valid_from", "valid_to",
                         "is_current")
