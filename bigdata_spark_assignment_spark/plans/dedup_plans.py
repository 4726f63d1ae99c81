"""Dedup queries (SURVEY.md §2.9): exact, fingerprint, n-gram Jaccard,
MinHash-LSH, SimHash — over the documents table.

The MinHash query's oracle is the *brute-force* pair set: DuckDB can't
reproduce xxhash64, but it can compute exact Jaccard over the same
shingle definition, and the LSH output must equal it (recall loss at
τ=0.6 with 24×2 banding is ~2e-5 per pair — see operators.dedup).
SimHash stays rows-only (hash-specific) and is property-tested in
tests/test_dedup.py instead.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import cache
from ..io import fanout_cache, load_table
from ..operators.dedup import (
    dedup_exact,
    neardup_pairs_exact_jaccard,
    neardup_pairs_minhash,
    neardup_pairs_simhash,
)
from ..operators.textual import WS_SPLIT, fingerprint_expr
from .registry import fround, register

# Fellegi-Sunter m/u probabilities for the q33 `fs` part — module-
# level so the ENGINE (via FieldComparison.w_agree) and the ORACLE
# (via repr() literals below) derive every weight from the SAME
# Python floats; neither engine recomputes a log in its own numerics.
_FS_MU = {"name": (0.95, 0.001), "seg": (0.9, 0.2),
          "band": (0.85, 0.01)}
_FS_W = {k: (math.log2(m / u), math.log2((1.0 - m) / (1.0 - u)))
         for k, (m, u) in _FS_MU.items()}
_FS_REVIEW, _FS_MATCH = 4.0, 12.0


def _fs_weight_sql(a: str, b: str) -> str:
    """The oracle's weight expression — the same three CASE terms in
    the same order the engine sums them, each literal repr()'d from
    the shared Python floats."""
    (wn_a, wn_d), (ws_a, ws_d), (wb_a, wb_d) = (
        _FS_W["name"], _FS_W["seg"], _FS_W["band"])
    return f"""0.0
        + CASE WHEN lower({a}.c_name) = lower({b}.name)
               THEN CAST('{wn_a!r}' AS DOUBLE)
               ELSE CAST('{wn_d!r}' AS DOUBLE) END
        + CASE WHEN {a}.c_mktsegment = {b}.seg
               THEN CAST('{ws_a!r}' AS DOUBLE)
               ELSE CAST('{ws_d!r}' AS DOUBLE) END
        + CASE WHEN floor({a}.c_acctbal / 100.0)
                    = floor({b}.acctbal / 100.0)
               THEN CAST('{wb_a!r}' AS DOUBLE)
               ELSE CAST('{wb_d!r}' AS DOUBLE) END"""


_FS_WEIGHT_SQL = _fs_weight_sql("a", "b")


# Shared DuckDB CTE: word-3-shingle exact-Jaccard pairs at τ=0.6 —
# the ground truth for BOTH the brute-force and the MinHash query.
_JACCARD_PAIRS_SQL = """
    WITH words AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct([concat_ws(' ', w[i], w[i+1], w[i+2])
                            for i in generate_series(1, len(w) - 2)]) AS s
      FROM words WHERE len(w) >= 3),
    ex AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS sz FROM sh),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common,
             ANY_VALUE(a.sz) AS sa, ANY_VALUE(b.sz) AS sb
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           ROUND(common * 1.0 / (sa + sb - common), 4) AS jaccard
    FROM pairs
    WHERE common * 1.0 / (sa + sb - common) >= 0.6
"""


@register(
    "q31_dedup_suite",
    oracle="""
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents),
    dirty AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, upper(text) || '   ' FROM documents),
    padded AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, 'pad ' || text FROM documents),
    pwords AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
      FROM padded),
    pwins AS (
      SELECT doc_id, unnest([array_to_string(w[i:i+9], ' ')
                             for i in range(1, len(w) - 8)]) AS gram
      FROM pwords WHERE len(w) >= 10),
    pshared AS (
      SELECT gram, COUNT(*) AS n_occ
      FROM pwins GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT 'exact' AS part,
           CAST(MIN(doc_id) AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT)    AS n1,
           CAST(NULL AS BIGINT)        AS n2,
           CAST(NULL AS BIGINT)        AS n3
    FROM unioned
    GROUP BY text
    UNION ALL
    SELECT 'fp', NULL,
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS BIGINT),
           CAST(COUNT(DISTINCT text) AS BIGINT)
    FROM dirty
    UNION ALL
    SELECT 'substr', NULL,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pshared),
           (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM pwins
             WHERE gram IN (SELECT gram FROM pshared)),
           (SELECT CAST(COALESCE(SUM(n_occ), 0) AS BIGINT) FROM pshared)
    """,
    tags=("dedup", "fingerprint", "substring"),
)
def dedup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + fingerprint dedup in one tagged result (merged r2
    q31+q32 to free driver prefix slots):

    * ``exact`` — canonical (min-id) row per distinct text over a
      doubled corpus with shifted ids, so the operator has real
      duplicates to collapse (driver texts are all unique). The window
      shuffles on the dedup key once; rows never hit the driver. For
      very wide rows, dedup on a digest instead so the shuffle carries
      a 32-byte key — exactly what the ``fp`` branch does.
    * ``fp`` — normalized-fingerprint dedup (md5 of lower +
      whitespace-collapsed text). Dirt: an upper-cased, space-padded
      copy of every doc — raw distinct sees 2× docs, fingerprint
      collapses them back.
    * ``substr`` (r3) — exact substring-duplication stats
      (``operators.dedup.shared_window_stats``, the distributed
      analogue of Lee et al. 2022 suffix-array dedup): 10-token
      windows occurring in >= 2 distinct docs. Dirt: a 'pad '-prefixed
      copy of every doc, so every original window recurs inside a
      LONGER document at a SHIFTED position — exactly what whole-doc
      dedup cannot see and substring matching must.
    """
    from ..operators.dedup import shared_window_stats
    # fan_out (size-gated, io.scan_fanout): a no-op at the small
    # bench scales — r8 measured a cached fan-out a LOSS here — but
    # recovers scan parallelism at sf1+ (SCALE r5 #6)
    docs = (load_table(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id", "text"))
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    exact = (dedup_exact(doubled, ["text"],
                         canonical_order=[F.col("doc_id").asc()],
                         copies_col="n_copies")
             .select(F.lit("exact").alias("part"), "doc_id",
                     F.col("n_copies").alias("n1"),
                     F.lit(None).cast("long").alias("n2"),
                     F.lit(None).cast("long").alias("n3")))
    dirty = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"),
                    F.concat(F.upper("text"), F.lit("   ")).alias("text")))
    fp = (dirty.agg(
        F.count(F.lit(1)).alias("n1"),
        F.countDistinct(fingerprint_expr(F.col("text"))).alias("n2"),
        F.countDistinct("text").alias("n3"))
        .select(F.lit("fp").alias("part"),
                F.lit(None).cast("long").alias("doc_id"),
                "n1", "n2", "n3"))
    padded = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"),
                    F.concat(F.lit("pad "), "text").alias("text")))
    substr = (shared_window_stats(padded, window_tokens=10)
              .select(F.lit("substr").alias("part"),
                      F.lit(None).cast("long").alias("doc_id"),
                      F.col("n_shared_windows").alias("n1"),
                      F.col("n_docs_with_shared").alias("n2"),
                      F.col("n_shared_occurrences").alias("n3")))
    return exact.unionByName(fp).unionByName(substr)


@register(
    "q33_neardup_jaccard_bruteforce",
    oracle=f"""
    SELECT 'jaccard' AS part, id_a, id_b, jaccard AS v
    FROM ({_JACCARD_PAIRS_SQL})
    UNION ALL
    -- r5 session 3: the prefix-filtered join must be ROW-IDENTICAL
    -- to the full-index truth (prefix filtering loses no pair)
    SELECT 'jaccard_prefix', id_a, id_b, jaccard
    FROM ({_JACCARD_PAIRS_SQL})
    UNION ALL
    -- r5 session 3: the fuzzy-join truth is the brute-force O(n²)
    -- levenshtein — identical unit-cost semantics in both engines
    SELECT 'editdist', CAST(a.s_suppkey AS BIGINT),
           CAST(b.s_suppkey AS BIGINT),
           CAST(levenshtein(a.s_name, b.s_name) AS DOUBLE)
    FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 1
    UNION ALL
    -- r6: Fellegi-Sunter record linkage (operators.linkage.fs_link)
    -- — nation-blocked candidate join of customers against a
    -- deterministically dirtied copy, three-field log2(m/u) weights
    -- from the engine's exact double literals, review-band filter
    SELECT 'fs', fsw.id_a, fsw.id_b, ROUND(fsw.w, 4)
    FROM (
      WITH bsrc AS (
        SELECT c_custkey + 1000000 AS ck,
               CASE WHEN c_custkey % 11 = 0
                    THEN upper(c_name) || ' JR'
                    ELSE upper(c_name) END AS name,
               CASE WHEN c_custkey % 5 = 0
                    THEN 'UNKNOWN' ELSE c_mktsegment END AS seg,
               CASE WHEN c_custkey % 7 = 0
                    THEN c_acctbal + 5000 ELSE c_acctbal END AS acctbal,
               c_nationkey AS nk
        FROM customer)
      SELECT a.c_custkey AS id_a, b.ck AS id_b,
             {_FS_WEIGHT_SQL} AS w
      FROM customer a JOIN bsrc b ON a.c_nationkey = b.nk) fsw
    WHERE fsw.w >= {_FS_REVIEW!r}
    UNION ALL
    -- r6: entity consolidation — connected components over the
    -- ACCEPTED (weight >= match threshold) pair set; each linked
    -- record reports its entity's canonical min id
    SELECT 'fs_entity', r.id, r.entity, NULL
    FROM (
      WITH bsrc AS (
        SELECT c_custkey + 1000000 AS ck,
               CASE WHEN c_custkey % 11 = 0
                    THEN upper(c_name) || ' JR'
                    ELSE upper(c_name) END AS name,
               CASE WHEN c_custkey % 5 = 0
                    THEN 'UNKNOWN' ELSE c_mktsegment END AS seg,
               CASE WHEN c_custkey % 7 = 0
                    THEN c_acctbal + 5000 ELSE c_acctbal END AS acctbal,
               c_nationkey AS nk
        FROM customer),
      mp AS (
        SELECT a.c_custkey AS id_a, b.ck AS id_b
        FROM customer a JOIN bsrc b ON a.c_nationkey = b.nk
        WHERE {_FS_WEIGHT_SQL} >= {_FS_MATCH!r}),
      medges AS (
        SELECT id_a AS src, id_b AS dst FROM mp
        UNION
        SELECT id_b, id_a FROM mp),
      mverts AS (SELECT DISTINCT src AS id FROM medges),
      mreach AS (
        WITH RECURSIVE r(id, label) AS (
          SELECT id, id FROM mverts
          UNION
          SELECT e.src, r.label
          FROM medges e JOIN r ON e.dst = r.id
          WHERE r.label < e.src)
        SELECT id, MIN(label) AS entity FROM r GROUP BY id)
      SELECT CAST(id AS BIGINT) AS id,
             CAST(entity AS BIGINT) AS entity
      FROM mreach) r
    UNION ALL
    SELECT 'fs_sum', g.n_match, g.n_possible, NULL
    FROM (
      WITH bsrc AS (
        SELECT c_custkey + 1000000 AS ck,
               CASE WHEN c_custkey % 11 = 0
                    THEN upper(c_name) || ' JR'
                    ELSE upper(c_name) END AS name,
               CASE WHEN c_custkey % 5 = 0
                    THEN 'UNKNOWN' ELSE c_mktsegment END AS seg,
               CASE WHEN c_custkey % 7 = 0
                    THEN c_acctbal + 5000 ELSE c_acctbal END AS acctbal,
               c_nationkey AS nk
        FROM customer),
      fsw AS (
        SELECT {_FS_WEIGHT_SQL} AS w
        FROM customer a JOIN bsrc b ON a.c_nationkey = b.nk)
      SELECT CAST(SUM(CASE WHEN w >= {_FS_MATCH!r}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
             CAST(SUM(CASE WHEN w >= {_FS_REVIEW!r}
                            AND w < {_FS_MATCH!r}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_possible
      FROM fsw) g
    """,
    tags=("dedup", "neardup", "fuzzy-join", "linkage"),
    parts=("jaccard", "jaccard_prefix", "editdist", "fs",
           "fs_entity", "fs_sum"),
)
def neardup_bruteforce_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-similarity pair mining, tagged:

    * ``jaccard`` — exact n-gram (word-3-shingle) Jaccard near-dup
      pairs at τ=0.6 via the shingle inverted index — the LSH recall
      baseline.
    * ``jaccard_prefix`` — r5 session 3: the same pair set through
      PREFIX FILTERING (operators.dedup.neardup_pairs_prefix_jaccard,
      rarest-first global order) — deterministic exact-recall scale
      path; the oracle pins it row-identical to the full-index truth.
    * ``editdist`` — r5 session 3: all supplier-name pairs within
      Levenshtein distance 1 via the SymSpell deletion-neighborhood
      blocked join (operators.dedup.fuzzy_join_edit_distance). The
      oracle recomputes the truth BRUTE-FORCE (O(n²) levenshtein), so
      a hash match proves the d-deletion blocking loses no pair
      (completeness lemma in the operator docstring) and the verify
      keeps no false candidate.
    * ``fs`` / ``fs_sum`` — r6: probabilistic record linkage
      (operators.linkage.fs_link, Fellegi-Sunter 1969): customers
      linked against a deterministically dirtied copy (names
      upper-cased, ' JR' suffixed every 11th key; segment wiped every
      5th; account balance shifted a whole band every 7th), candidate
      pairs from NATION blocking (never the cross product), each
      field contributing log2(m/u) / log2((1−m)/(1−u)) evidence
      weights summed in field order from shared Python-float
      literals. ``fs`` rows are every candidate at or above the
      review threshold (v = weight, 4 dp) — true pairs surviving ≥2
      field agreements plus the genuine clerical-review band of
      random in-block pairs that agree on segment AND balance band;
      ``fs_sum`` pins the match/possible decision counts (id_a/id_b
      carry them), so the thresholds themselves are oracle-checked.
      At scale: one shuffle per side on the block key, codegen CASE
      weights, output bounded by true matches + review band.
    * ``fs_entity`` — r6: the consolidation step that makes linkage
      an ENTITY RESOLUTION pipeline (block → score → threshold →
      merge): connected components (operators.dedup.neardup_clusters)
      over the accepted-match pair set; each linked record reports
      its entity's canonical min id, re-derived by the oracle's
      recursive-CTE reachability — the same cross-paradigm
      differential as q53's ``prop``.
    """
    from ..operators.dedup import fuzzy_join_edit_distance

    from ..operators.dedup import neardup_pairs_prefix_jaccard

    docs = load_table(spark, sf_dir, "documents")
    jac = (neardup_pairs_exact_jaccard(docs, "doc_id", "text",
                                       threshold=0.6)
           .select(F.lit("jaccard").alias("part"), "id_a", "id_b",
                   fround(F.col("jaccard")).alias("v")))
    pfx = (neardup_pairs_prefix_jaccard(docs, "doc_id", "text",
                                        threshold=0.6)
           .select(F.lit("jaccard_prefix").alias("part"), "id_a",
                   "id_b", fround(F.col("jaccard")).alias("v")))
    sup = load_table(spark, sf_dir, "supplier")
    fz = (fuzzy_join_edit_distance(sup, "s_suppkey", "s_name", max_dist=1)
          .select(F.lit("editdist").alias("part"),
                  F.col("id_a").cast("long").alias("id_a"),
                  F.col("id_b").cast("long").alias("id_b"),
                  F.col("dist").cast("double").alias("v")))

    from ..operators.linkage import FieldComparison, fs_link

    cust = load_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    dirty = cust.select(
        (ck + 1000000).alias("ck"),
        F.when(ck % 11 == 0, F.concat(F.upper("c_name"), F.lit(" JR")))
         .otherwise(F.upper("c_name")).alias("name"),
        F.when(ck % 5 == 0, F.lit("UNKNOWN"))
         .otherwise(F.col("c_mktsegment")).alias("seg"),
        F.when(ck % 7 == 0, F.col("c_acctbal") + 5000)
         .otherwise(F.col("c_acctbal")).alias("acctbal"),
        F.col("c_nationkey").alias("nk"))
    fields = [
        FieldComparison(
            "name",
            F.lower(F.col("l.c_name")) == F.lower(F.col("r.name")),
            *_FS_MU["name"]),
        FieldComparison(
            "seg", F.col("l.c_mktsegment") == F.col("r.seg"),
            *_FS_MU["seg"]),
        FieldComparison(
            "band",
            F.floor(F.col("l.c_acctbal") / F.lit(100.0))
            == F.floor(F.col("r.acctbal") / F.lit(100.0)),
            *_FS_MU["band"]),
    ]

    linked = cache.persist(
        fs_link(cust, dirty, "c_custkey", "ck",
                [("c_nationkey", "nk")], fields,
                match_threshold=_FS_MATCH,
                review_threshold=_FS_REVIEW))
    fs = linked.select(F.lit("fs").alias("part"),
                       F.col("id_a").cast("long").alias("id_a"),
                       F.col("id_b").cast("long").alias("id_b"),
                       fround(F.col("weight")).alias("v"))
    from ..operators.dedup import neardup_clusters

    ent = (neardup_clusters(
               linked.filter(F.col("decision") == "match")
               .select("id_a", "id_b"))
           .select(F.lit("fs_entity").alias("part"),
                   F.col("id").cast("long").alias("id_a"),
                   F.col("cluster_id").cast("long").alias("id_b"),
                   F.lit(None).cast("double").alias("v")))
    fs_sum = (linked.agg(
        F.count(F.when(F.col("decision") == "match", 1)).alias("nm"),
        F.count(F.when(F.col("decision") == "possible", 1)).alias("np"))
        .select(F.lit("fs_sum").alias("part"),
                F.col("nm").cast("long").alias("id_a"),
                F.col("np").cast("long").alias("id_b"),
                F.lit(None).cast("double").alias("v")))
    return (jac.unionByName(pfx).unionByName(fz)
            .unionByName(fs).unionByName(ent).unionByName(fs_sum))


@register(
    "q34_neardup_minhash_lsh",
    oracle=_JACCARD_PAIRS_SQL,
    tags=("dedup", "neardup", "lsh"),
)
def neardup_minhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified at τ=0.6 — must equal
    the brute-force oracle pair set (precision is exact by
    construction; recall loss ~2e-5/pair at this banding)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    out = neardup_pairs_minhash(docs, "doc_id", "text", threshold=0.6,
                                num_hashes=48, bands=24)
    return out.select("id_a", "id_b", fround(F.col("jaccard")).alias("jaccard"))


@register(
    "q35_neardup_simhash",
    oracle="""
    SELECT CAST(doc_id AS BIGINT)          AS id_a,
           CAST(doc_id + 100000 AS BIGINT) AS id_b,
           CAST(0 AS INTEGER)              AS hamming
    FROM documents
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), CAST(doc_id + 200000 AS BIGINT),
           CAST(0 AS INTEGER)
    FROM documents
    """,
    tags=("dedup", "neardup", "simhash"),
)
def neardup_simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance near-dup pairs via 16-bit chunk LSH —
    oracle-backed planted-truth contract (r3; the signature itself
    depends on Spark's xxhash64, which no SQL engine reproduces).

    Two mutant classes with PROVABLY identical signatures are planted
    per document (SimHash's majority vote is a pure function of the
    token multiset up to scaling):

    * ``+100000`` — the text doubled (every token count ×2 → every bit
      vote ×2 → same sign → Hamming 0),
    * ``+200000`` — word order reversed (same token multiset → same
      votes → Hamming 0),

    so the full signature → chunk-LSH → bit_count-verify pipeline must
    recover EXACTLY one pair per (doc, mutant) at Hamming 0 — the
    oracle enumerates that pair list relationally. Organic same-corpus
    near-dup pairs are excluded by the id-offset filter (their
    recall/precision contract lives in tests/test_dedup.py, which
    property-tests the Hamming semantics the oracle can't see)."""
    docs = (load_table(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id", "text"))
    doubled = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.col("text")).alias("text"))
    reversed_ = docs.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), WS_SPLIT)), " ")
         .alias("text"))
    corpus = docs.unionByName(doubled).unionByName(reversed_)
    pairs = neardup_pairs_simhash(corpus, "doc_id", "text", max_hamming=6)
    return (pairs.filter(
                (F.col("id_a") < 100000)
                & ((F.col("id_b") == F.col("id_a") + 100000)
                   | (F.col("id_b") == F.col("id_a") + 200000)))
            .select("id_a", "id_b", F.col("hamming").cast("int")))


@register(
    "q71_decontamination_and_leakage_split",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
    shx AS (
      SELECT doc_id,
             list_distinct([concat_ws(' ', w[i], w[i+1], w[i+2])
                            for i in generate_series(1, len(w) - 2)]) AS s
      FROM words WHERE len(w) >= 3),
    tr AS (SELECT doc_id AS train_id, unnest(s) AS shingle FROM shx),
    te AS (
      SELECT DISTINCT test_id, shingle FROM (
        SELECT doc_id AS test_id, unnest(s) AS shingle
        FROM shx WHERE doc_id % 50 = 0)),
    jpairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM jpairs
      UNION
      SELECT id_b, id_a FROM jpairs),
    verts AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      WITH RECURSIVE r(id, label) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.src, r.label
        FROM edges e JOIN r ON e.dst = r.id
        WHERE r.label < e.src)
      SELECT id, MIN(label) AS cluster_id FROM r GROUP BY id),
    assign AS (
      SELECT d.doc_id,
             COALESCE(re.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN reach re ON d.doc_id = re.id),
    buckets AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS b
      FROM assign)
    SELECT 'decon' AS part, CAST(train_id AS BIGINT) AS id,
           CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n1,
           CAST(COUNT(DISTINCT test_id) AS BIGINT) AS n2
    FROM tr JOIN te USING (shingle)
    GROUP BY train_id
    UNION ALL
    SELECT 'split', 0,
           CAST(SUM(CASE WHEN b < 80 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN b >= 80 THEN 1 ELSE 0 END) AS BIGINT)
    FROM buckets
    UNION ALL
    SELECT 'leak', 0,
           CAST((SELECT COUNT(*) FROM jpairs) AS BIGINT),
           CAST(0 AS BIGINT)
    """,
    tags=("dedup", "decontamination", "split"),
)
def decontamination_and_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two leakage guards a training-data lake runs before every model
    build, driver-visible and FULLY oracle-backed (r3 — previously a
    planted-truth self-check):

    * ``decon`` rows — benchmark decontamination
      (operators.dedup.decontaminate): the 'test set' is every 50th
      document verbatim; one row per flagged training doc with its
      distinct shared-shingle count and test-doc count. The oracle
      re-derives the entire flagged set relationally (word-3-shingles,
      distinct per side), so over/under-flagging changes the hash.
    * ``split`` row — leakage-safe split
      (operators.dedup.leakage_safe_split): per-split totals where the
      split key is the near-dup CLUSTER id (connected components over
      MinHash pairs, singletons keep their own id) hashed with the
      engine-independent md5 bucket. The oracle recomputes clusters via
      a recursive CTE over the exact-Jaccard pair set (== the verified
      LSH pair set) and the same md5 bucketing — so family-atomicity
      AND the exact assignment are both pinned.
    * ``leak`` row — the pair count plus the cross-split pair count
      pinned at ZERO: no near-dup pair may straddle the boundary, the
      property per-doc hash splits do not have.
    """
    from ..operators.dedup import decontaminate, leakage_safe_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    test = docs.filter(F.col("doc_id") % 50 == 0)
    decon = (decontaminate(docs, test)
             .select(F.lit("decon").alias("part"),
                     F.col("train_id").alias("id"),
                     F.col("n_test_shingle_hits").alias("n1"),
                     F.col("n_test_docs_hit").alias("n2")))

    pairs = neardup_pairs_minhash(docs, "doc_id", "text", threshold=0.6)
    split = leakage_safe_split(docs, pairs).select("doc_id", "split")
    split_row = (split.agg(
        F.count(F.when(F.col("split") == "train", 1)).alias("n1"),
        F.count(F.when(F.col("split") == "eval", 1)).alias("n2"))
        .select(F.lit("split").alias("part"),
                F.lit(0).cast("long").alias("id"), "n1", "n2"))

    a = split.withColumnRenamed("doc_id", "id_a") \
        .withColumnRenamed("split", "split_a")
    b = split.withColumnRenamed("doc_id", "id_b") \
        .withColumnRenamed("split", "split_b")
    leak_row = (pairs.join(a, "id_a").join(b, "id_b")
                .agg(F.count(F.lit(1)).alias("n1"),
                     F.count(F.when(F.col("split_a") != F.col("split_b"), 1))
                      .alias("n2"))
                .select(F.lit("leak").alias("part"),
                        F.lit(0).cast("long").alias("id"), "n1", "n2"))
    return decon.unionByName(split_row).unionByName(leak_row)


def _pagerank_iter_ctes(iters: int, damping: float = 0.85) -> str:
    """Unrolled PageRank iteration CTEs for the q53 oracle — the
    damping/teleport doubles are repr()'d from the SAME Python floats
    the engine embeds via F.lit, so neither side re-derives them in a
    different numeric type (DuckDB's bare `1 - 0.85` is DECIMAL
    arithmetic, one ulp off the engine's double)."""
    tp, dp = repr(1.0 - damping), repr(damping)
    out = ["it0 AS (SELECT id, CAST(1.0 AS DOUBLE) / n AS rank "
           "FROM verts CROSS JOIN nstats)"]
    for k in range(iters):
        out.append(f"""it{k + 1} AS (
      SELECT v.id,
             CAST('{tp}' AS DOUBLE) / n
               + CAST('{dp}' AS DOUBLE)
               * COALESCE(s.c, CAST(0 AS DOUBLE)) AS rank
      FROM verts v CROSS JOIN nstats
      LEFT JOIN (SELECT e.dst AS vid, SUM(r.rank / d.deg) AS c
                 FROM edges e
                 JOIN it{k} r ON e.src = r.id
                 JOIN deg d ON d.id = e.src
                 GROUP BY e.dst) s ON s.vid = v.id)""")
    return ",\n    ".join(out)


def _kcore_peel_ctes(rounds: int) -> str:
    """Unrolled k-core peel CTEs for the q53 oracle: ``rounds``
    restrictions to vertices with within-subgraph degree ≥ 2, then
    ``rounds`` more at ≥ 3 starting from the 2-core (valid since the
    3-core is a subset of the 2-core). Peeling is monotone, so extra
    rounds past the fixpoint are no-ops — the engine operator runs to
    the TRUE fixpoint and raises if it needs more than ``rounds``
    (tests/test_dedup.py pins convergence headroom)."""
    # every round MATERIALIZED: round i+1 references round i twice,
    # so inlining would blow the plan up 2^rounds-fold
    out = ["p2_0 AS MATERIALIZED (SELECT id FROM verts)"]
    for k, prev in ((2, "verts"), (3, None)):
        if prev is None:
            out.append(
                f"p3_0 AS MATERIALIZED (SELECT id FROM p2_{rounds})")
        for i in range(rounds):
            out.append(f"""p{k}_{i + 1} AS MATERIALIZED (
      SELECT e.src AS id FROM edges e
      JOIN p{k}_{i} a ON e.src = a.id
      JOIN p{k}_{i} b ON e.dst = b.id
      GROUP BY e.src HAVING COUNT(*) >= {k})""")
    return ",\n    ".join(out)


def _lpa_iter_ctes(rounds: int) -> str:
    """Unrolled synchronous label-propagation CTEs for the q53
    oracle: labels start at vertex id; each round every vertex takes
    the PLURALITY label among its neighbors' previous-round labels,
    ties toward the MIN label (ROW_NUMBER over count DESC, label ASC)
    — the exact deterministic contract of
    ``operators.dedup.label_propagation``. The round count is part of
    the semantics (fixed R sidesteps synchronous LPA's bipartite
    oscillation), so engine and oracle unroll the SAME R."""
    out = ["lp0 AS MATERIALIZED (SELECT id, id AS label FROM verts)"]
    for k in range(rounds):
        out.append(f"""lp{k + 1} AS MATERIALIZED (
      SELECT id, label FROM (
        SELECT e.src AS id, l.label,
               ROW_NUMBER() OVER (PARTITION BY e.src
                                  ORDER BY COUNT(*) DESC, l.label)
                 AS rn
        FROM edges e JOIN lp{k} l ON e.dst = l.id
        GROUP BY e.src, l.label)
      WHERE rn = 1)""")
    return ",\n    ".join(out)


# q53/q15 oracle pieces (r8, VERDICT r7 #5 de-overload): the graph
# suite had 10 method tags; the BFS/SSSP traversal legs move to
# q15_graph_extras (q78 until the r10 prefix rotation). CORE carries the
# MATERIALIZED pair/edge/reach CTEs both slots need; ITER the
# pagerank/kcore/lpa unrolls only q53 references.
_Q53_CTES_CORE = f"""
    -- MATERIALIZED: the kcore unroll references edges 32 times;
    -- inlining would re-derive the shingle join (and re-open the
    -- documents parquet) per reference
    WITH pairs AS MATERIALIZED ({_JACCARD_PAIRS_SQL}),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
    edges_lh AS (
      SELECT LEAST(id_a, id_b) AS u, GREATEST(id_a, id_b) AS v
      FROM pairs WHERE id_a <> id_b GROUP BY 1, 2)
    , reach AS (
      WITH RECURSIVE r(id, label) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.src, r.label
        FROM edges e JOIN r ON e.dst = r.id
        WHERE r.label < e.src)
      SELECT id, MIN(label) AS cluster_id FROM r GROUP BY id),
    deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY src),
    nstats AS (SELECT COUNT(*) AS n FROM verts)
"""
_Q53_CTES_ITER = f"""
    {_pagerank_iter_ctes(10)},
    {_kcore_peel_ctes(8)},
    {_lpa_iter_ctes(4)}
"""

_Q53_LEG_SQL: dict[str, str] = {
    "prop_star": """
    SELECT m.method, CAST(id AS BIGINT) AS id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(NULL AS DOUBLE) AS v
    FROM reach, (VALUES ('prop'), ('star')) AS m(method)
""",
    "pagerank": """
    SELECT 'pagerank', CAST(id AS BIGINT), CAST(NULL AS BIGINT),
           ROUND(rank, 6)
    FROM it10
""",
    "triangles": """
    -- r5 session 3: per-vertex triangle counts — each triangle
    -- enumerated once as u<v<w via the two-join wedge+closing plan
    SELECT 'triangles', CAST(v.id AS BIGINT),
           CAST(COALESCE(t.nt, 0) AS BIGINT), CAST(NULL AS DOUBLE)
    FROM verts v LEFT JOIN (
      SELECT id, COUNT(*) AS nt FROM (
        SELECT unnest([tri.a, tri.b, tri.c]) AS id FROM (
          SELECT w1.u AS a, w1.v AS b, w2.v AS c
          FROM edges_lh w1
          JOIN edges_lh w2 ON w1.v = w2.u
          JOIN edges_lh w3 ON w3.u = w1.u AND w3.v = w2.v) tri)
      GROUP BY id) t ON t.id = v.id
""",
    "clustering": """
    -- r6: local clustering coefficient = 2*triangles / deg*(deg-1)
    -- (degree and triangle tables both re-derived above; deg < 2 ->
    -- NULL, the undefined case)
    SELECT 'clustering', CAST(v.id AS BIGINT),
           CAST(d.deg AS BIGINT),
           CASE WHEN d.deg >= 2
                THEN ROUND(2.0 * COALESCE(t2.nt, 0)
                           / (d.deg * (d.deg - 1.0)), 6) END
    FROM verts v
    JOIN deg d ON d.id = v.id
    LEFT JOIN (
      SELECT id, COUNT(*) AS nt FROM (
        SELECT unnest([tri.a, tri.b, tri.c]) AS id FROM (
          SELECT w1.u AS a, w1.v AS b, w2.v AS c
          FROM edges_lh w1
          JOIN edges_lh w2 ON w1.v = w2.u
          JOIN edges_lh w3 ON w3.u = w1.u AND w3.v = w2.v) tri)
      GROUP BY id) t2 ON t2.id = v.id
""",
    "kcore": """
    -- r6: bounded k-core coreness (1 + 2-core + 3-core membership
    -- from the unrolled peels above) — chain appendages vs cyclic
    -- vs quasi-clique density classes
    SELECT 'kcore', CAST(v.id AS BIGINT),
           CAST(1 + CASE WHEN p2.id IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN p3.id IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM verts v
    LEFT JOIN p2_8 p2 ON p2.id = v.id
    LEFT JOIN p3_8 p3 ON p3.id = v.id
""",
    "lpa": """
    -- r7 session 3: synchronous label-propagation communities
    -- (operators.dedup.label_propagation, 4 unrolled rounds,
    -- plurality label, min tie-break) — the density-aware community
    -- complement to the reachability labels above
    SELECT 'lpa', CAST(id AS BIGINT), CAST(label AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM lp4
""",
    "modularity": """
    -- r7 session 3: Newman modularity of the LPA partition
    -- (operators.dedup.modularity_nano) — per-community terms
    -- nano-rounded to exact BIGINTs before the order-free SUM (the
    -- psi_nano discipline). id = community count, cluster_id =
    -- Q in nanos, v = undirected edge count
    SELECT 'modularity', CAST(mt.n_comm AS BIGINT),
           CAST(mt.q_nano AS BIGINT), CAST(mt.m AS DOUBLE)
    FROM (
      WITH mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges_lh),
      mmc AS (SELECT a.label AS c, CAST(COUNT(*) AS BIGINT) AS m_c
              FROM edges_lh e
              JOIN lp4 a ON e.u = a.id
              JOIN lp4 b ON e.v = b.id AND a.label = b.label
              GROUP BY 1),
      mdc AS (SELECT l.label AS c, CAST(SUM(d.deg) AS BIGINT) AS d_c
              FROM lp4 l JOIN deg d ON l.id = d.id GROUP BY 1),
      mterms AS (
        SELECT CAST(ROUND((COALESCE(mmc.m_c, 0) * 1.0 / mm.m
                     - (mdc.d_c * 1.0 / (2.0 * mm.m)) ^ 2) * 1e9)
                    AS BIGINT) AS term_nano
        FROM mdc CROSS JOIN mm LEFT JOIN mmc ON mmc.c = mdc.c)
      SELECT (SELECT COUNT(*) FROM mdc) AS n_comm,
             (SELECT SUM(term_nano) FROM mterms) AS q_nano,
             (SELECT m FROM mm) AS m) mt
""",
    "bfs": """
    -- r5 session 4: BFS hop distance from each component's canonical
    -- (min-id) vertex — level-bounded recursive enumeration, MIN(dist)
    -- = shortest path, same 20-hop bound as the engine operator
    SELECT 'bfs', CAST(id AS BIGINT), CAST(hops AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM (
      WITH RECURSIVE hb(id, dist) AS (
        SELECT DISTINCT cluster_id, 0 FROM reach
        UNION
        SELECT e.src, hb.dist + 1
        FROM edges e JOIN hb ON e.dst = hb.id
        WHERE hb.dist < 20)
      SELECT id, MIN(dist) AS hops FROM hb GROUP BY id)
""",
    "sssp": """
    -- r5 session 5: weighted shortest paths from the canonical vertex
    -- (operators.dedup.sssp_by_component) — integer near-dup-distance
    -- weights (10001 − round(jaccard·10⁴)), min-plus over ≤20-edge
    -- paths; the same hop bound makes the recursive enumeration finite
    SELECT 'sssp', CAST(id AS BIGINT), CAST(dist AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM (
      WITH RECURSIVE ew AS (
        SELECT id_a AS src, id_b AS dst,
               10001 - CAST(FLOOR(jaccard * 10000 + 0.5) AS BIGINT)
                 AS w
        FROM pairs
        UNION ALL
        SELECT id_b, id_a,
               10001 - CAST(FLOOR(jaccard * 10000 + 0.5) AS BIGINT)
        FROM pairs),
      sp(id, dist, hops) AS (
        SELECT DISTINCT cluster_id, CAST(0 AS BIGINT), 0 FROM reach
        UNION
        SELECT e.dst, sp.dist + e.w, sp.hops + 1
        FROM ew e JOIN sp ON e.src = sp.id
        WHERE sp.hops < 20)
      SELECT id, MIN(dist) AS dist FROM sp GROUP BY id)
""",
}

Q53_PARTS = ("prop", "star", "triangles", "clustering")
Q15_PARTS = ("bfs", "sssp", "pagerank", "kcore", "lpa", "modularity")


def _q53_oracle(leg_keys, iters: bool) -> str:
    union = "\n    UNION ALL\n".join(_Q53_LEG_SQL[t] for t in leg_keys)
    ctes = _Q53_CTES_CORE + ("," + _Q53_CTES_ITER if iters else "")
    return (f"{ctes}"
            f" SELECT method, id, cluster_id, v FROM (\n{union}\n"
            f"    ) u(method, id, cluster_id, v)")

@register(
    "q53_neardup_clusters",
    oracle=_q53_oracle(("prop_star", "triangles", "clustering"),
                       iters=False),
    tags=("dedup", "neardup", "clustering", "components"),
    parts=Q53_PARTS,
    part_col="method",
)
def neardup_clusters_query(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Graph analytics over the MinHash near-dup pair graph,
    HEADLINE slot: both connected-components algorithms (prop/star)
    plus triangles + clustering coefficient — the slot's cost and
    hash risk now track its headline operator (near-dup clustering).
    Leg construction and design notes live in
    :func:`_graph_suite_legs`; the BFS/SSSP traversal legs and the
    iterative analytics (PageRank, k-core, LPA, modularity) live in
    ``q15_graph_extras`` (r8 de-overload — VERDICT r7 #5; iterative
    legs moved r8 session 2; renamed q78→q15 in the r10 rotation).
    """
    legs = _graph_suite_legs(spark, sf_dir)
    out = legs[Q53_PARTS[0]]
    for t in Q53_PARTS[1:]:
        out = out.unionByName(legs[t])
    return out


@register(
    "q15_graph_extras",
    # Q15_PARTS is the single source of truth for the oracle legs too
    # (r10 ADVICE): a duplicate literal tuple here could drift from
    # parts= without test_declared_parts_match_actual_tags noticing
    # the oracle-side omission.
    oracle=_q53_oracle(Q15_PARTS, iters=True),
    tags=("dedup", "graph", "bfs", "sssp", "traversal", "pagerank",
          "lpa", "community"),
    parts=Q15_PARTS,
    part_col="method",
)
def graph_extras_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph suite, second slot (r8, VERDICT r7 #5 de-overload): BFS
    hop distance and weighted shortest paths from each component's
    canonical vertex, plus the iterative analytics (PageRank, k-core,
    LPA, modularity — moved r8 session 2), over the same persisted
    pair graph.
    r10 rotation (VERDICT r9 #1): renamed q78_graph_extras →
    q15_graph_extras to sort INTO the driver's 50-entry checked
    prefix — it had never had a driver CORRECTNESS row. Still
    excluded from bench.py (its legs would re-pay q53's shared
    subtrees; bench exclusion is independent of the prefix).
    """
    legs = _graph_suite_legs(spark, sf_dir)
    out = legs[Q15_PARTS[0]]
    for t in Q15_PARTS[1:]:
        out = out.unionByName(legs[t])
    return out


def _graph_suite_legs(spark: SparkSession,
                      sf_dir: str) -> "dict[str, DataFrame]":
    """Per-leg builders for the q53/q15 graph suites, tagged:

    * ``prop`` / ``star`` — connected components via BOTH engines'
      algorithms: iterative min-label propagation
      (operators.dedup.neardup_clusters, O(diameter) rounds) and
      large-star/small-star contraction (neardup_clusters_star,
      O(log² n) rounds — the web-scale/high-diameter path). Each must
      agree with DuckDB's recursive-CTE reachability on every (vertex,
      min-reachable-id) row — iterative DataFrame algorithms vs
      recursive SQL, the strongest cross-paradigm differential here.
    * ``pagerank`` — r5 session 3: 10 power iterations of damped
      PageRank over the same graph (operators.dedup.pagerank; the
      centrality-based canonical-pick alternative to keep-min). The
      oracle UNROLLS the ten iterations as chained CTEs with the
      engine's exact double literals, so every rank checks to 6
      decimals — a grouped numpy power iteration vs static SQL depth.
      Runs as ONE job via pagerank_by_component (PageRank decomposes
      exactly over components; ``prop``'s labels feed the grouping) —
      the iterative ``pagerank`` operator is the giant-component
      fallback, pinned equal in tests/test_dedup.py.
    * ``triangles`` — r5 session 3: per-vertex triangle counts
      (operators.dedup.triangle_counts, u<v<w wedge+closing joins,
      each triangle found once); the oracle re-enumerates them with
      the same orientation. cluster_id carries the count.
    * ``clustering`` — r6: local clustering coefficient
      2·triangles/(deg·(deg−1)) from the SAME triangle table plus a
      distinct-neighbor degree count (cluster_id carries the degree,
      v the coefficient; deg < 2 → NULL). 1.0 = the vertex's near-dup
      blob is a clique — the blob-shape diagnostic that separates
      true duplicate cliques from chain-shaped false-positive paths.
    * ``kcore`` — r6: bounded k-core coreness
      (operators.dedup.kcore_by_component, cap 3): the largest
      k ≤ 3 surviving iterated deletion of degree-< k vertices —
      coreness 1 = tree/chain appendage (chained false-positive
      paths), 2 = on a cycle, 3 = quasi-clique blob; the density
      class that complements ``clustering``'s local ratio.
      cluster_id carries the coreness. The oracle UNROLLS eight
      peel rounds per k (monotone, so post-fixpoint rounds are
      no-ops); the distributed ``kcore_membership`` peel is the
      giant-component path, pinned equal in tests/test_dedup.py and
      raising loudly past the shared round bound.
    * ``bfs`` — r5 session 4: hop distance of every vertex from its
      component's canonical min-id vertex
      (operators.dedup.bfs_hops_by_component, the grouped one-job
      traversal; the per-level distributed ``bfs_hops`` is the
      giant-component path, pinned equal in tests/test_dedup.py).
      cluster_id carries the hop count; the oracle re-derives it as
      MIN(dist) over a level-bounded recursive enumeration — an
      imperative frontier BFS vs recursive SQL differential.
    * ``sssp`` — r5 session 5: WEIGHTED shortest paths from the same
      canonical vertices (operators.dedup.sssp_by_component): integer
      near-dup-distance weights 10001 − round(jaccard·10⁴), min-plus
      relaxation bounded at 20 edges — the semantics contract all
      three implementations share (grouped Bellman-Ford, the
      distributed per-round ``sssp`` pinned equal in
      tests/test_dedup.py, and the oracle's hop-bounded recursive
      enumeration). cluster_id carries the distance; integer weights
      make every value exact across engines.

    * ``lpa`` — r7 session 3: synchronous label propagation
      (4 fixed rounds, plurality neighbor label, min tie-break) —
      community detection over the same graph: chain-bridged
      components split at their weak links where reachability
      (``prop``/``star``) must glue them. Grouped one-job form
      (operators.dedup.lpa_by_component); the per-round distributed
      ``label_propagation`` is the giant-component path, pinned equal
      in tests/test_dedup.py. The oracle unrolls the same 4 rounds
      with the same argmax (count DESC, label ASC). cluster_id
      carries the community label.
    * ``modularity`` — r7 session 3: Newman modularity Q of the LPA
      partition (operators.dedup.modularity_nano) — the one-number
      "did the communities beat random" check; per-community terms
      nano-rounded to exact BIGINTs before the order-free sum (the
      psi_nano discipline). id = community count, cluster_id = Q in
      nanos, v = undirected edge count.

    The pair graph is persisted so the MinHash sweep is paid once
    across all six algorithm families."""
    from ..operators.dedup import (
        bfs_hops_by_component,
        kcore_by_component,
        lpa_by_component,
        neardup_clusters,
        neardup_clusters_star,
        pagerank_by_component,
        sssp_by_component,
        triangle_counts,
    )

    docs = fanout_cache(load_table(spark, sf_dir, "documents"))
    pairs = cache.persist(
        neardup_pairs_minhash(docs, "doc_id", "text", threshold=0.6))
    prop = neardup_clusters(pairs)
    star = neardup_clusters_star(pairs)
    nullv = F.lit(None).cast("double").alias("v")
    # components are dup-cluster-sized -> the grouped one-job variant;
    # prop's labels are already materialized, so the label join is free
    pr = (pagerank_by_component(pairs, prop, iters=10, damping=0.85)
          .select(F.lit("pagerank").alias("method"), "id",
                  F.lit(None).cast("long").alias("cluster_id"),
                  fround(F.col("rank"), 6).alias("v")))
    tri_counts = triangle_counts(pairs)
    tri = (tri_counts
           .select(F.lit("triangles").alias("method"), "id",
                   F.col("n_triangles").alias("cluster_id"), nullv))
    # clustering: local clustering coefficient from the SAME triangle
    # table + a distinct-neighbor degree count — how clique-ish each
    # vertex's neighborhood is (1.0 = its near-dup blob is a clique)
    sym = (pairs.select(F.col("id_a").alias("id"),
                        F.col("id_b").alias("nb"))
           .unionByName(pairs.select(F.col("id_b").alias("id"),
                                     F.col("id_a").alias("nb")))
           .distinct())
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    dd = F.col("deg").cast("double")
    clus = (tri_counts.join(deg, "id")
            .select(F.lit("clustering").alias("method"), "id",
                    F.col("deg").cast("long").alias("cluster_id"),
                    F.when(F.col("deg") >= 2,
                           F.round(2.0 * F.col("n_triangles")
                                   / (dd * (dd - 1.0)), 6)).alias("v")))
    kc = (kcore_by_component(pairs, prop, k_max=3)
          .select(F.lit("kcore").alias("method"), "id",
                  F.col("coreness").alias("cluster_id"), nullv))
    bfs = (bfs_hops_by_component(pairs, prop, max_hops=20)
           .select(F.lit("bfs").alias("method"), "id",
                   F.col("hops").alias("cluster_id"), nullv))
    weighted = pairs.withColumn(
        "weight",
        (F.lit(10001) - F.floor(F.col("jaccard") * 10000 + 0.5))
        .cast("long"))
    sp = (sssp_by_component(weighted, prop, max_rounds=20)
          .select(F.lit("sssp").alias("method"), "id",
                  F.col("dist").alias("cluster_id"), nullv))
    # lpa: 4-round synchronous label propagation — community labels
    # that split chain-bridged components where reachability cannot;
    # grouped one-job form (components are dup-blob-sized), the
    # iterative label_propagation pinned equal in tests/test_dedup.py
    from ..operators.dedup import modularity_nano

    lpa_lab = cache.persist(lpa_by_component(pairs, prop, rounds=4))
    lpa = lpa_lab.select(F.lit("lpa").alias("method"), "id",
                         F.col("label").alias("cluster_id"), nullv)
    # modularity: did LPA find real structure? One nano-quantized
    # number from three key-bounded aggregates over the same graph
    mod = (modularity_nano(pairs, lpa_lab)
           .select(F.lit("modularity").alias("method"),
                   F.col("n_communities").alias("id"),
                   F.col("q_nano").alias("cluster_id"),
                   F.col("m_edges").cast("double").alias("v")))
    nullv2 = F.lit(None).cast("double").alias("v")
    return {"prop": prop.select(F.lit("prop").alias("method"), "id",
                                "cluster_id", nullv2),
            "star": star.select(F.lit("star").alias("method"), "id",
                                "cluster_id", nullv2),
            "pagerank": pr, "triangles": tri, "clustering": clus,
            "kcore": kc, "bfs": bfs, "sssp": sp, "lpa": lpa,
            "modularity": mod}
