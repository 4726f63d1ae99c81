"""Similarity-search queries (SURVEY.md §2.9) over the embeddings
table: brute-force cosine top-k (oracle-checked), all-pairs cosine
near-dup (oracle-checked), LSH ANN (rows-only, recall-tested vs brute
force in tests/test_similarity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..io import load_table
from ..operators.similarity import (
    ann_topk_lsh,
    brute_force_topk,
    lsh_bucket_expr,
    neardup_pairs_cosine,
    neardup_pairs_cosine_vectorized,
    random_hyperplanes,
)
from .registry import fround, register

# DuckDB cosine with explicit per-element double casts — matches the
# engine's zip_with/aggregate double accumulation digit-for-digit.
_DUCK_COS = """
    list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)
              for i in generate_series(1, len({a}))]) /
    (sqrt(list_sum([CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)
                    for i in generate_series(1, len({a}))])) *
     sqrt(list_sum([CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)
                    for i in generate_series(1, len({b}))])))
"""


@register(
    "q40_ann_cosine_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             {_DUCK_COS.format(a='cv', b='qv')} AS cos
      FROM c, q WHERE neighbor_id <> query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored),
    -- r7 session 3: hard-negative mining — same scored table, near-
    -- duplicates (cos >= 0.4, the corpus's q41 near-dup notion)
    -- excluded BEFORE ranking; identical cosine doubles on both
    -- engines make the threshold bitwise-stable
    hneg AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored WHERE cos < 0.4)
    SELECT 'topk' AS part,
           CAST(query_id AS BIGINT)    AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           ROUND(cos, 4)               AS cosine,
           CAST(rnk AS INTEGER)        AS rank
    FROM ranked WHERE rnk <= 10
    UNION ALL
    SELECT 'hardneg', CAST(query_id AS BIGINT),
           CAST(neighbor_id AS BIGINT), ROUND(cos, 4),
           CAST(rnk AS INTEGER)
    FROM hneg WHERE rnk <= 10
    """,
    tags=("similarity", "topk", "hardneg", "contrastive"),
    parts=("topk", "hardneg"),
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine retrieval for 5 probe vectors, tagged parts:

    * ``topk`` — exact cosine top-10 — the ANN ground truth. All-JVM
      array math (zip_with/aggregate in double); the probe side is
      broadcast so the corpus never shuffles for the join.
    * ``hardneg`` — r7 session 3: hard-negative mining for
      contrastive embedding training
      (operators.similarity.hard_negative_topk): per anchor, the
      top-10 highest-cosine candidates BELOW the corpus's near-dup
      threshold (0.4 — q41's) — the InfoNCE/triplet pairs a training
      pipeline mines against the full corpus. Same broadcast plan;
      the exclusion is a pre-rank filter.
    """
    # fan_out: 64-dim dot products over every corpus row are scan-
    # stage work; recover parallelism on the single-row-group file
    # (io.scan_fanout; measured 0.54s -> 0.37s at sf0.1)
    from ..operators.similarity import cosine_scored, hard_negative_topk

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    queries = emb.filter(F.col("vec_id") < 5)
    # both rankings read the same (query × corpus) cosine table —
    # build it once, persist, rank twice
    scored = cache.persist(cosine_scored(emb, queries))
    out = brute_force_topk(emb, queries, k=10, scored=scored)
    hn = hard_negative_topk(emb, queries, k=10, dup_threshold=0.4,
                            scored=scored)
    sel = lambda df, tag: df.select(  # noqa: E731
        F.lit(tag).alias("part"), "query_id", "neighbor_id",
        fround(F.col("cosine")).alias("cosine"), "rank")
    return sel(out, "topk").unionByName(sel(hn, "hardneg"))


@register(
    "q41_embedding_neardup_cosine",
    oracle=f"""
    WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings),
         b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings),
    pairs AS (
      SELECT id_a, id_b, {_DUCK_COS.format(a='va', b='vb')} AS cos
      FROM a, b WHERE id_a < id_b)
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           ROUND(cos, 4) AS cosine
    FROM pairs WHERE cos >= 0.4
    """,
    tags=("similarity", "neardup"),
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs embedding near-dup at cosine ≥ 0.4 via the block-matrix
    numpy path (Arrow + applyInPandas, one matmul per chunk-pair block;
    ~50× the interpreted array-expression formulation at sf0.1).

    r9 (closing the r8 scale flag): the chunk count is no longer
    fixture-fixed — the operator auto-sizes it from a corpus COUNT so
    per-block occupancy is pinned at CHUNK_TARGET_ROWS (512, swept
    against 256/1024 at both sf0.1 and 10× — see the operator). Only
    the exact-op's inherent O(n²) total compute grows with the corpus;
    block memory and straggler size do not (measured 10×: 9.45× with
    the fixed count in r8 → ~3.4× warm-paired with the pin). Still
    O(n²) — the 100 TB path blocks on an LSH bucket instead
    (operators.similarity.neardup_pairs_cosine with block_col)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = neardup_pairs_cosine_vectorized(emb, threshold=0.4)
    return out.select("id_a", "id_b", fround(F.col("cosine")).alias("cosine"))


# IVF quantizer cache: the index BUILD (KMeans fit) is paid once per
# (sf_dir, n_cells) per process — q42's timed body then measures the
# PROBE path (assignment, cell equi-join, rerank), which is what a
# serving system pays per query batch (VERDICT r2 #8). bench.py warms
# this cache before the timing loop.
_IVF_CENTERS: dict[tuple[str, int], list[list[float]]] = {}
_PQ_BOOKS: dict[tuple[str, int, int], list[list[list[float]]]] = {}


def _ivf_centers_for(spark: SparkSession, sf_dir: str,
                     n_cells: int = 16) -> list[list[float]]:
    from ..operators.similarity import fit_ivf_centers

    key = (sf_dir, n_cells)
    if key not in _IVF_CENTERS:
        emb = load_table(spark, sf_dir, "embeddings")
        _IVF_CENTERS[key] = fit_ivf_centers(emb, n_cells=n_cells, seed=7)
    return _IVF_CENTERS[key]


def _pq_books_for(spark: SparkSession, sf_dir: str, m: int = 8,
                  k_codes: int = 32) -> list[list[list[float]]]:
    """PQ codebook cache, same contract as ``_ivf_centers_for``: the
    index BUILD is per-corpus, the timed q42 body measures the query
    path (encode + ADC + rerank)."""
    from ..operators.similarity import fit_pq_codebooks

    key = (sf_dir, m, k_codes)
    if key not in _PQ_BOOKS:
        emb = load_table(spark, sf_dir, "embeddings")
        _PQ_BOOKS[key] = fit_pq_codebooks(emb, m=m, k_codes=k_codes,
                                          seed=7)
    return _PQ_BOOKS[key]


_PCA_FITS: dict[tuple[str, int], dict] = {}


def _pca_fit_for(spark: SparkSession, sf_dir: str, k: int = 2) -> dict:
    """PCA model cache, same contract as ``_ivf_centers_for``: the
    fit (one covariance pass + eigh) is per-corpus index build; the
    timed q42 body measures the PROJECTION + variance readout path."""
    from ..operators.similarity import pca_fit

    key = (sf_dir, k)
    if key not in _PCA_FITS:
        emb = load_table(spark, sf_dir, "embeddings")
        _PCA_FITS[key] = pca_fit(emb, k=k, dim=64)
    return _PCA_FITS[key]


@register(
    "q42_ann_methods_recall",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             {cos} AS cos
      FROM c, q WHERE neighbor_id <> query_id),
    ranked AS (
      SELECT query_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth
          FROM ranked WHERE rnk <= 10),
    nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM q),
    -- r5 (VERDICT r4 #5): the exact seeded recall NUMERATORS, pinned
    -- per driver-testdata scale (keyed on lineitem cardinality, which
    -- distinguishes the sfs; embeddings is 500 rows at both sf0.001
    -- and sf0.01). The engine emits its true n_hits at pinned scales,
    -- so ANY recall regression flips the value hash, not just the
    -- floor boolean. Unknown scales -> NULL on both sides.
    sz AS (SELECT COUNT(*) AS n_li FROM lineitem)
    SELECT 'ivf' AS method, n_queries, n_truth,
           CAST(CASE n_li WHEN 6000 THEN 42 WHEN 60000 THEN 39
                WHEN 600000 THEN 39 END AS BIGINT) AS n_hits_pinned,
           TRUE AS recall_ok
    FROM nq, t, sz
    UNION ALL
    SELECT 'lsh', n_queries, n_truth,
           CAST(CASE n_li WHEN 6000 THEN 39 WHEN 60000 THEN 45
                WHEN 600000 THEN 42 END AS BIGINT), TRUE
    FROM nq, t, sz
    UNION ALL
    -- r5: product quantization (ADC cosine + exact rerank); r6 tune
    -- (VERDICT r5 #7): 8x64 codebooks, refine=200 -- recall at sf0.1
    -- rose 35/50 -> 43/50 (0.86, above the 0.8 bar) with the same
    -- fit cost; 50/50 at both smaller scales (sweep in PLANS.md r6)
    SELECT 'pq', n_queries, n_truth,
           CAST(CASE n_li WHEN 6000 THEN 50 WHEN 60000 THEN 50
                WHEN 600000 THEN 43 END AS BIGINT), TRUE
    FROM nq, t, sz
    UNION ALL
    -- r6: distributed PCA over the same embeddings — the engine
    -- derives the top-2 explained-variance ratios END-TO-END through
    -- the pipeline (ml.PCA fit -> sign-normalized components ->
    -- codegen projection -> distributed variance / trace) in ppm;
    -- the oracle pins the measured values per scale (eigh is not SQL
    -- — the q42 pinned-literal contract, bit-stable under
    -- repartitioning: measured at local[8] and local[32]x13)
    SELECT 'pca', CAST(64 AS BIGINT),
           CAST(CASE n_li WHEN 6000 THEN 28935 WHEN 60000 THEN 27579
                WHEN 600000 THEN 20941 END AS BIGINT),
           CAST(CASE n_li WHEN 6000 THEN 26972 WHEN 60000 THEN 27232
                WHEN 600000 THEN 20582 END AS BIGINT),
           TRUE
    FROM sz
    """.format(cos=_DUCK_COS.format(a='cv', b='qv')),
    tags=("similarity", "topk", "lsh", "ivf", "pq", "pca"),
)
def ann_methods_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN method suite (merged r1 q42+q51): random-hyperplane LSH
    (multi-probe, 8 tables), IVF (pre-fit KMeans quantizer +
    6-cell probes — ``_ivf_centers_for`` caches the index build so the
    query body measures the probe path) and PQ (r5, re-tuned r6: pre-fit 8×64
    product-quantization codebooks, ADC approximate cosine over the
    m-byte codes, exact rerank of the top-200 —
    operators.similarity.ann_topk_pq_prefit) top-10, each scored
    against the exact brute-force top-10 IN the query.

    Oracle-backed self-verifying contract (r3, strengthened r5 per
    VERDICT r4 #5): ``n_queries`` and ``n_truth`` (the brute-force
    top-10 row count) are genuinely SQL-derived via the same
    ranked-cosine CTE as q40's oracle; each method's recall@10 is
    hashed TWICE — as the band boolean (lsh ≥ 0.6, ivf ≥ 0.5) and as
    ``n_hits_pinned``, the exact seeded hit count, which the oracle
    carries as per-scale literals (keyed on lineitem cardinality;
    measured twice in fresh processes, bit-identical — both methods
    are seeded and partition-stable). A recall regression of even ONE
    neighbor now flips the value hash, not just the floor.

    The r6 ``pca`` row extends the suite with distributed PCA
    (operators.similarity.pca_fit / pca_project): n_queries carries
    the dimension, n_truth/n_hits_pinned the top-2 explained-variance
    ratios in ppm — the ENGINE recomputes them through the whole
    pipeline (fit → sign-normalized components → codegen projection →
    var_samp(pc_j) / Σ_i var_samp(x_i)), the oracle pins the measured
    per-scale literals (eigendecomposition is not SQL; bit-stable
    under local[8] vs local[32]×repartition(13) — the q42 contract),
    and recall_ok asserts the ordering evr1 ≥ evr2 engine-side."""
    from ..operators.similarity import (
        ann_topk_ivf_prefit,
        ann_topk_pq_prefit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    truth = (brute_force_topk(emb, queries, k=10)
             .select("query_id", "neighbor_id")
             .withColumn("hit", F.lit(1)))
    lsh = (ann_topk_lsh(emb, queries, k=10)
           .select(F.lit("lsh").alias("method"), "query_id", "neighbor_id"))
    centers = _ivf_centers_for(spark, sf_dir, n_cells=16)
    ivf = (ann_topk_ivf_prefit(emb, queries, centers, k=10, n_probe=6)
           .select(F.lit("ivf").alias("method"), "query_id", "neighbor_id"))
    books = _pq_books_for(spark, sf_dir, m=8, k_codes=64)
    pq = (ann_topk_pq_prefit(emb, queries, books, k=10, refine=200)
          .select(F.lit("pq").alias("method"), "query_id", "neighbor_id"))
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_queries = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    # pinned-recall contract key: lineitem cardinality identifies the
    # driver-testdata scale (metadata-only parquet count, 1-row bcast)
    li_n = load_table(spark, sf_dir, "lineitem") \
        .agg(F.count(F.lit(1)).alias("__li_n"))
    from ..operators.similarity import pca_project

    fit = _pca_fit_for(spark, sf_dir, k=2)
    proj = pca_project(emb, fit)
    trace = emb.agg(sum(
        [F.var_samp(F.element_at(F.col("embedding"), i + 1)
                    .cast("double")) for i in range(64)],
        F.lit(0.0)).alias("__tr"))
    known = F.col("__li_n").isin(6000, 60000, 600000)
    pca_row = (proj.agg(F.var_samp("pc1").alias("__v1"),
                        F.var_samp("pc2").alias("__v2"))
               .crossJoin(F.broadcast(trace))
               .crossJoin(F.broadcast(li_n))
               .select(
                   F.lit("pca").alias("method"),
                   F.lit(64).cast("long").alias("n_queries"),
                   F.when(known, F.round(F.col("__v1") / F.col("__tr")
                                         * 1e6)).cast("long")
                   .alias("n_truth"),
                   F.when(known, F.round(F.col("__v2") / F.col("__tr")
                                         * 1e6)).cast("long")
                   .alias("n_hits_pinned"),
                   (F.col("__v1") >= F.col("__v2")).alias("recall_ok")))
    floors = F.when(F.col("method") == "lsh", F.lit(0.6)) \
        .when(F.col("method") == "pq", F.lit(0.6)).otherwise(F.lit(0.5))
    return (lsh.unionByName(ivf).unionByName(pq)
            .join(F.broadcast(truth), ["query_id", "neighbor_id"], "left")
            .groupBy("method")
            .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"))
            .crossJoin(F.broadcast(n_queries))
            .crossJoin(F.broadcast(n_truth))
            .crossJoin(F.broadcast(li_n))
            .select("method", "n_queries", "n_truth",
                    F.when(F.col("__li_n").isin(6000, 60000, 600000),
                           F.col("n_hits")).cast("long")
                    .alias("n_hits_pinned"),
                    ((F.col("n_hits") / F.col("n_truth")) >= floors)
                    .alias("recall_ok"))
            .unionByName(pca_row))


def _duck_dot(vec_sql: str, plane: list[float]) -> str:
    """DuckDB dot product of a float-list column against a literal
    plane, double-accumulated element-wise — mirrors
    operators.similarity.dot_expr against the SAME literals."""
    lits = "[" + ",".join(repr(float(v)) for v in plane) + "]"
    return (f"list_sum([CAST({vec_sql}[i] AS DOUBLE) * ({lits})[i] "
            f"for i in generate_series(1, len({vec_sql}))])")


def _blocked_oracle(planes: list[list[float]]) -> str:
    bucket = " + ".join(
        f"(CASE WHEN {_duck_dot('embedding', p)} > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes))
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, ({bucket}) AS bucket FROM embeddings),
    a AS (SELECT vec_id AS id_a, embedding AS va, bucket FROM b),
    c AS (SELECT vec_id AS id_b, embedding AS vb, bucket FROM b),
    rawpairs AS (
      SELECT id_a, id_b, {_DUCK_COS.format(a='va', b='vb')} AS cos
      FROM a JOIN c USING (bucket) WHERE id_a < id_b),
    pairs AS (SELECT * FROM rawpairs WHERE cos >= 0.4),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    verts AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      WITH RECURSIVE r(id, label) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.src, r.label
        FROM edges e JOIN r ON e.dst = r.id
        WHERE r.label < e.src)
      SELECT id, MIN(label) AS cluster_id FROM r GROUP BY id),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    -- r7 session 3: DBSCAN over the same ε-pair graph
    -- (operators.dedup.dbscan_from_pairs): core = deg+1 >= 3,
    -- clusters = core-core reachability (min-id label), border =
    -- non-core with a core neighbor -> MIN core cluster, noise =
    -- the rest
    dbdeg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
              FROM edges GROUP BY 1),
    dbcore AS (SELECT id FROM dbdeg WHERE deg + 1 >= 3),
    dbccore AS (
      WITH RECURSIVE rc(id, label) AS (
        SELECT id, id FROM dbcore
        UNION
        SELECT e.src, rc.label
        FROM edges e
        JOIN dbcore x ON e.src = x.id
        JOIN dbcore y ON e.dst = y.id
        JOIN rc ON e.dst = rc.id
        WHERE rc.label < e.src)
      SELECT id, MIN(label) AS cl FROM rc GROUP BY id),
    dbborder AS (
      SELECT e.src AS id, MIN(c.cl) AS cl
      FROM edges e JOIN dbccore c ON e.dst = c.id
      WHERE e.src NOT IN (SELECT id FROM dbcore)
      GROUP BY 1),
    dbs AS (SELECT id, cl FROM dbccore
            UNION ALL SELECT id, cl FROM dbborder)
    SELECT 'pair' AS part,
           CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           ROUND(cos, 4) AS cosine
    FROM pairs
    UNION ALL
    SELECT 'cluster', CAST(cluster_id AS BIGINT),
           CAST(COUNT(*) AS BIGINT), CAST(NULL AS DOUBLE)
    FROM reach GROUP BY cluster_id
    UNION ALL
    SELECT 'keep',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM reach
            WHERE id <> cluster_id),
           total.n - (SELECT CAST(COUNT(*) AS BIGINT) FROM reach
                      WHERE id <> cluster_id),
           CAST(NULL AS DOUBLE)
    FROM total
    UNION ALL
    SELECT 'dbscan', CAST(cl AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM dbs GROUP BY cl
    UNION ALL
    SELECT 'dbscan_stats',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dbccore),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dbborder),
           CAST(total.n - (SELECT COUNT(*) FROM dbccore)
                        - (SELECT COUNT(*) FROM dbborder) AS DOUBLE)
    FROM total
    """


_BLOCK_PLANES = random_hyperplanes(64, 3, seed=7)


@register(
    "q67_blocked_cosine_neardup",
    oracle=_blocked_oracle(_BLOCK_PLANES),
    tags=("similarity", "neardup", "lsh", "dbscan", "density"),
    parts=("pair", "cluster", "keep", "dbscan", "dbscan_stats"),
)
def blocked_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB-safe all-pairs form PLUS the SemDeDup-style
    semantic-dedup composition (Abbas et al. 2023: embedding-space
    near-dup clusters, keep one doc per cluster), in tagged parts:

    * ``pair`` — cosine near-dup restricted to an LSH bucket
      (``neardup_pairs_cosine`` with ``block_col`` fed by
      ``lsh_bucket_expr``) — the equi-join-on-bucket plan whose
      shuffle is O(rows), not O(rows²). The oracle recomputes the SAME
      hyperplane buckets from inlined plane literals and restricts the
      exact pair SQL to within-bucket pairs, so the hash check proves
      bucket parity AND pair parity.
    * ``cluster`` — connected components over the pair graph
      (``neardup_clusters``): (cluster_id, size) per semantic cluster,
      checked against DuckDB recursive-CTE reachability.
    * ``keep`` — the dedup decision: (n_dropped, n_kept) where every
      non-canonical member (id ≠ cluster min) is dropped — exactly the
      keep-one-per-cluster rule a semantic-dedup pass applies.

    * ``dbscan``/``dbscan_stats`` — r7 session 3: DBSCAN over the
      SAME ε-pair graph (operators.dedup.dbscan_from_pairs,
      min_pts=3): density clustering that plain CC cannot express —
      sparse chain links become noise instead of gluing clusters.
      Core sub-CC runs as per-component numpy union-find grouped by
      the already-computed CC labels; border points take the MIN
      neighboring core cluster. Rows: (cluster, size) per density
      cluster + one (n_core, n_border, n_noise) summary.

    Recall vs the unblocked q41 is the pytest contract (single-table
    blocking trades recall for linear shuffle; production unions
    multiple tables like ann_topk_lsh to recover it)."""
    from ..operators.dedup import neardup_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    blocked = emb.withColumn(
        "blk", lsh_bucket_expr(F.col("embedding"), _BLOCK_PLANES))
    pairs = cache.persist(
        neardup_pairs_cosine(blocked, threshold=0.4, block_col="blk"))
    pair_part = pairs.select(
        F.lit("pair").alias("part"), "id_a", "id_b",
        fround(F.col("cosine")).alias("cosine"))
    labels = cache.persist(neardup_clusters(pairs))
    cluster_part = (labels.groupBy("cluster_id")
                    .agg(F.count(F.lit(1)).alias("size"))
                    .select(F.lit("cluster").alias("part"),
                            F.col("cluster_id").alias("id_a"),
                            F.col("size").alias("id_b"),
                            F.lit(None).cast("double").alias("cosine")))
    n_total = emb.agg(F.count(F.lit(1)).alias("n"))
    keep_part = (labels.agg(
        F.count(F.when(F.col("id") != F.col("cluster_id"), 1))
         .alias("n_dropped"))
        .crossJoin(F.broadcast(n_total))
        .select(F.lit("keep").alias("part"),
                F.col("n_dropped").alias("id_a"),
                (F.col("n") - F.col("n_dropped")).alias("id_b"),
                F.lit(None).cast("double").alias("cosine")))
    from ..operators.dedup import dbscan_from_pairs

    dbs = dbscan_from_pairs(pairs, labels, min_pts=3)
    dbs_all = dbs["core"].unionByName(dbs["border"])
    dbscan_part = (dbs_all.groupBy("cl")
                   .agg(F.count(F.lit(1)).alias("size"))
                   .select(F.lit("dbscan").alias("part"),
                           F.col("cl").alias("id_a"),
                           F.col("size").alias("id_b"),
                           F.lit(None).cast("double").alias("cosine")))
    stats_part = (dbs["core"].agg(F.count(F.lit(1)).alias("n_core"))
                  .crossJoin(F.broadcast(
                      dbs["border"].agg(F.count(F.lit(1))
                                        .alias("n_border"))))
                  .crossJoin(F.broadcast(n_total))
                  .select(F.lit("dbscan_stats").alias("part"),
                          F.col("n_core").alias("id_a"),
                          F.col("n_border").alias("id_b"),
                          (F.col("n") - F.col("n_core")
                           - F.col("n_border")).cast("double")
                          .alias("cosine")))
    return (pair_part.unionByName(cluster_part).unionByName(keep_part)
            .unionByName(dbscan_part).unionByName(stats_part))
