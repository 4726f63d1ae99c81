"""Similarity-operator tests: exactness of cosine math, LSH recall@k
against the brute-force baseline (the approx-op contract, SURVEY.md
§7 hard part 4)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from bigdata_spark_assignment_spark.io import load_table
from bigdata_spark_assignment_spark.operators.similarity import (
    ann_topk_lsh,
    brute_force_topk,
    cosine_expr,
)


def test_cosine_expr_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]),
         ([1.0, 0.0], [0.0, 1.0]),
         ([1.0, 1.0], [1.0, 0.0])],
        "a array<float>, b array<float>")
    vals = [r.c for r in df.select(cosine_expr(F.col("a"), F.col("b")).alias("c")).collect()]
    assert vals[0] == 1.0
    assert vals[1] == 0.0
    assert math.isclose(vals[2], 1 / math.sqrt(2), rel_tol=1e-12)


def test_brute_force_topk_shape(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    out = brute_force_topk(emb, queries, k=5).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
    for rows in by_q.values():
        ranks = sorted(r.rank for r in rows)
        assert ranks == [1, 2, 3, 4, 5]
        cosines = [r.cosine for r in sorted(rows, key=lambda r: r.rank)]
        assert cosines == sorted(cosines, reverse=True)


def test_ann_lsh_recall_at_10(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=10).collect()
    approx = ann_topk_lsh(emb, queries, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(exact_sets[q] & approx_sets.get(q, set())) / 10
               for q in exact_sets]
    assert sum(recalls) / len(recalls) >= 0.6, f"mean recall@10 {recalls}"


def test_neardup_cosine_vectorized_equals_expression(spark, sf_smoke):
    """Block-matrix numpy path must emit exactly the expression path's
    pair set (same ids, cosine within float reassociation tolerance)."""
    from bigdata_spark_assignment_spark.operators.similarity import (
        neardup_pairs_cosine,
        neardup_pairs_cosine_vectorized,
    )
    emb = load_table(spark, sf_smoke, "embeddings")
    expr = {(r.id_a, r.id_b): r.cosine
            for r in neardup_pairs_cosine(emb, threshold=0.4).collect()}
    vec = {(r.id_a, r.id_b): r.cosine
           for r in neardup_pairs_cosine_vectorized(
               emb, threshold=0.4, n_chunks=4).collect()}
    assert set(expr) == set(vec)
    for k in expr:
        assert math.isclose(expr[k], vec[k], rel_tol=1e-9), k


def test_ann_ivf_recall_at_10(spark, sf_smoke):
    """IVF quantizer + n_probe cells: recall@10 vs brute force. With
    16 cells and 6 probes on weakly-clustered data, most true
    neighbors' cells are probed."""
    from bigdata_spark_assignment_spark.operators.similarity import (
        ann_topk_ivf_prefit,
        fit_ivf_centers,
    )
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=10).collect()
    centers = fit_ivf_centers(emb, n_cells=16, seed=7)
    approx = ann_topk_ivf_prefit(emb, queries, centers, k=10,
                                 n_probe=6).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(exact_sets[q] & approx_sets.get(q, set())) / 10
               for q in exact_sets]
    assert sum(recalls) / len(recalls) >= 0.5, f"mean recall@10 {recalls}"


def test_ann_ivf_full_probe_is_exact(spark, sf_smoke):
    """Probing every cell must reproduce the exact top-k (IVF's
    correctness limit case)."""
    from bigdata_spark_assignment_spark.operators.similarity import (
        ann_topk_ivf_prefit,
        fit_ivf_centers,
    )
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {(r.query_id, r.rank): r.neighbor_id
             for r in brute_force_topk(emb, queries, k=5).collect()}
    centers = fit_ivf_centers(emb, n_cells=8, seed=7)
    full = {(r.query_id, r.rank): r.neighbor_id
            for r in ann_topk_ivf_prefit(emb, queries, centers, k=5,
                                         n_probe=8).collect()}
    assert exact == full


def test_blocked_cosine_recall_vs_unblocked(spark, sf_smoke):
    """q67 contract: LSH-bucket-blocked pairs are a SUBSET of the
    unblocked all-pairs result with usable recall at 3 planes (the
    scale path trades recall for an O(rows) shuffle; multi-table
    union recovers it, as in ann_topk_lsh)."""
    from bigdata_spark_assignment_spark.operators.similarity import (
        lsh_bucket_expr,
        neardup_pairs_cosine,
        neardup_pairs_cosine_vectorized,
        random_hyperplanes,
    )
    emb = load_table(spark, sf_smoke, "embeddings")
    full = {(r.id_a, r.id_b)
            for r in neardup_pairs_cosine_vectorized(
                emb, threshold=0.4).collect()}
    planes = random_hyperplanes(64, 3, seed=7)
    blocked_df = emb.withColumn(
        "blk", lsh_bucket_expr(F.col("embedding"), planes))
    blocked = {(r.id_a, r.id_b)
               for r in neardup_pairs_cosine(
                   blocked_df, threshold=0.4, block_col="blk").collect()}
    assert blocked <= full
    assert full  # fixture must actually contain near-dup pairs
    recall = len(blocked) / len(full)
    # 3 hyperplanes ⇒ P(same bucket) ≈ (1 - θ/π)³; at cos≥0.4 expect
    # ≳0.2 — assert a conservative floor and that blocking does block
    assert recall >= 0.1, f"recall {recall}"


def test_ann_pq_recall_at_10(spark, sf_smoke):
    """PQ (r5, retuned r6): 8×64 codebooks + ADC cosine + top-200
    exact rerank must recover the brute-force top-10 at this scale,
    and the pinned seeded hit count (the q42 hash contract) must
    reproduce exactly."""
    from bigdata_spark_assignment_spark.operators.similarity import (
        ann_topk_pq_prefit,
        fit_pq_codebooks,
    )
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    books = fit_pq_codebooks(emb, m=8, k_codes=64, seed=7)
    assert len(books) == 8 and all(len(b) == 64 for b in books)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, queries, k=10).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ann_topk_pq_prefit(emb, queries, books, k=10,
                                          refine=200).collect()}
    # the exact value hashed by q42's oracle at this scale (sf0.001)
    assert len(exact & approx) == 50
    assert len(approx) == len(exact) == 50


def test_ann_pq_full_refine_is_exact(spark, sf_smoke):
    """refine == corpus size: the exact rerank sees every candidate, so
    PQ must reproduce the exact top-k (its correctness limit case) no
    matter how lossy the codes are."""
    from bigdata_spark_assignment_spark.operators.similarity import (
        ann_topk_pq_prefit,
        fit_pq_codebooks,
    )
    emb = load_table(spark, sf_smoke, "embeddings")
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 3)
    books = fit_pq_codebooks(emb, m=4, k_codes=8, seed=11)  # very lossy
    exact = {(r.query_id, r.rank): r.neighbor_id
             for r in brute_force_topk(emb, queries, k=5).collect()}
    full = {(r.query_id, r.rank): r.neighbor_id
            for r in ann_topk_pq_prefit(emb, queries, books, k=5,
                                        refine=n).collect()}
    assert exact == full


def test_pca_fit_project_numpy_parity_and_plan(spark):
    """r6: distributed PCA — components/evr/scores match a numpy
    reference (up to the shared sign convention), projected variance
    matches the eigenvalues, and projection is pure codegen (no UDF,
    no exchange)."""
    import numpy as np

    from bigdata_spark_assignment_spark.operators.similarity import (
        pca_fit,
        pca_project,
    )
    rng = np.random.default_rng(3)
    # anisotropic cloud in 8 dims: two dominant directions
    base = rng.normal(0.0, 1.0, (400, 8))
    base[:, 0] *= 6.0
    base[:, 1] *= 3.0
    mix = rng.normal(0.0, 1.0, (8, 8)) * 0.2 + np.eye(8)
    x = base @ mix + rng.normal(2.0, 0.1, 8)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>")
    fit = pca_fit(df, k=2, dim=8)

    xc = x - x.mean(axis=0)
    cov = (xc.T @ xc) / (len(x) - 1)     # ml.PCA uses sample covariance
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:2]
    ref = vecs[:, order].T
    for i in range(2):
        j = int(np.abs(ref[i]).argmax())
        if ref[i, j] < 0:
            ref[i] = -ref[i]
        assert np.allclose(fit["components"][i], ref[i], atol=1e-6)
    assert np.allclose(fit["evr"],
                       vals[order] / vals.sum(), atol=1e-6)
    assert np.allclose(fit["mean"], x.mean(axis=0), atol=1e-9)

    proj = pca_project(df, fit).orderBy("id")
    got = np.array([[r.pc1, r.pc2] for r in proj.collect()])
    want = xc @ np.array(fit["components"]).T
    assert np.allclose(got, want, atol=1e-6)
    # projected variance recovers the eigenvalues
    assert np.allclose(got.var(axis=0, ddof=1), vals[order], rtol=1e-6)

    plan = (pca_project(df, fit)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan


def test_hard_negative_topk_excludes_near_dups(spark):
    """Hand-built corpus: the near-duplicate of each anchor must be
    excluded, the remaining candidates ranked by cosine."""
    import math

    from bigdata_spark_assignment_spark.operators.similarity import (
        brute_force_topk,
        hard_negative_topk,
    )

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    # anchor 0 at angle 0; near-dup at 5deg (cos~0.996); negatives at
    # 30/60/85 deg (cos ~0.866/0.5/0.087)
    rows = [(0, unit(0.0)), (10, unit(math.radians(5))),
            (11, unit(math.radians(30))), (12, unit(math.radians(60))),
            (13, unit(math.radians(85)))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = emb.filter("vec_id = 0")

    hn = hard_negative_topk(emb, anchors, k=3, dup_threshold=0.9)
    got = [(r["neighbor_id"], r["rank"]) for r in
           sorted(hn.collect(), key=lambda r: r["rank"])]
    assert got == [(11, 1), (12, 2), (13, 3)]   # 10 excluded as dup

    # floor cuts the easy negative (cos 0.087 < 0.3)
    hf = hard_negative_topk(emb, anchors, k=3, dup_threshold=0.9,
                            floor=0.3)
    assert sorted(r["neighbor_id"] for r in hf.collect()) == [11, 12]

    # without exclusion, the dup ranks first — the two operators agree
    # on the tail ordering
    bf = brute_force_topk(emb, anchors, k=4)
    order = [r["neighbor_id"] for r in
             sorted(bf.collect(), key=lambda r: r["rank"])]
    assert order == [10, 11, 12, 13]
