"""Scale-evidence harness (VERDICT r2 #5/#6): one-command reproduction
of the beyond-bench runs recorded in BASELINE.md / PLANS.md.

Two workloads:

* ``sf1`` — build a 10× (sf1.0-equivalent) dataset from the driver's
  sf0.1 parquet and time the headline queries (q01/q05/q34/q52/q53/
  q67) through the SAME registry functions the bench runs, printing
  per-query seconds next to the caller-supplied sf0.1 numbers. The
  scale-up preserves workload character instead of duplicating rows:

  - lineitem/orders: 10 replicas with order keys offset per replica
    (join fan-out and group counts preserved; lineitem 600k → 6M);
  - documents: 10 replicas under a per-replica Caesar rotation of the
    letters (byte-preserving bijective word renaming) — shingle sets
    across replicas are disjoint, so the near-dup pair structure per
    replica is IDENTICAL to sf0.1 (duplicating text verbatim would
    manufacture 10-cliques and explode pair counts 45×, which no real
    10× corpus does; the r4 word-suffix variant inflated bytes 15.5×
    and mis-flagged per-byte-sublinear text queries as super-linear);
  - embeddings: 10 replicas rotated by ``i`` positions (norms and
    bucket balance preserved, cross-replica cosine decorrelated).

* ``cc500k`` — the r2 synthetic 500k-doc corpus (60 words/doc, 2000-word
  vocab, a planted near-copy every 100th doc), MinHash pair sweep +
  connected components with RELIABLE ``checkpoint()`` into a scratch
  dir — the cluster-fault-tolerant configuration a 100 TB run needs
  (VERDICT r2 #5). Verifies the planted pairs/clusters exactly.

Usage:  python tools/scale_runs.py
        [sf1|sf1-full|sf1-paired|q50density|cc500k|all]
(``sf1-full`` = VERDICT r3 #2: the ENTIRE bench suite at 10× with
per-query ratios vs BENCH_DETAIL.json's sf0.1 numbers.
``sf1-paired`` = r10: interleaved same-process cold pairing — both
ends of each ratio see the same host minute, retiring the
cross-session denominator artifact. ``q50density`` = VERDICT r9 #5:
per-leg q50 measurement incl. the forced constant-area contrast.)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bigdata_spark_assignment_spark.session import get_session  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1_DIR = "/tmp/sparkgraft_sf1"
REPLICAS = 10
HEADLINE = ["q01_pricing_summary", "q05_join_fact_fact",
            "q34_neardup_minhash_lsh", "q52_corpus_prep_stats",
            "q53_neardup_clusters", "q67_blocked_cosine_neardup",
            # r3 additions
            "q31_dedup_suite", "q72_heavy_hitters", "q19_scd2_merge",
            "q21_repetition_ngram_filters",
            # r3 session-3 additions: grouped OLS/UDAF over 6M rows
            # (2M rows/group through Arrow), packing + mixture windows,
            # multi-format round-trip at 10x
            "q07_correlation", "q11_split_sample_counts"]


def _replicate(df, n: int):
    return (df.withColumn("__r", F.explode(F.array(
        *[F.lit(i) for i in range(n)]))))


# A 10x corpus ships in ~10x the FILES, not one: the driver's sf0.1
# tables are single-file/single-row-group (scan = 1 task), and
# replicating them into another single file makes every sf1 scan
# start serial - measuring fixture layout, not the engine (r10; the
# q50-plane r6 precedent). 32 files ~ local[32]'s split count for a
# table this size on a real cluster; engine-side scan_fanout stays in
# place for genuinely single-file inputs.
SF1_FILES = 32


def build_sf1(spark) -> None:
    if os.path.isdir(SF1_DIR):
        shutil.rmtree(SF1_DIR)
    os.makedirs(SF1_DIR)
    t0 = time.perf_counter()

    # Every table, FK-consistently: each replica is an INDEPENDENT
    # TPC-H-ish instance (keys offset by the same span on both sides of
    # every join), so join selectivity and per-key cardinalities match
    # sf0.1 — a faithful 10× workload, not a 10× hot-key pileup.
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    cust = spark.read.parquet(f"{SRC}/customer.parquet")
    supp = spark.read.parquet(f"{SRC}/supplier.parquet")
    part = spark.read.parquet(f"{SRC}/part.parquet")
    key_span = li.agg(F.max("l_orderkey")).first()[0] + 1
    cust_span = cust.agg(F.max("c_custkey")).first()[0] + 1
    supp_span = supp.agg(F.max("s_suppkey")).first()[0] + 1
    part_span = part.agg(F.max("p_partkey")).first()[0] + 1

    def _offset(col, span):
        return F.col(col) + F.col("__r") * F.lit(span)

    (_replicate(li, REPLICAS)
     .withColumn("l_orderkey", _offset("l_orderkey", key_span))
     .withColumn("l_partkey", _offset("l_partkey", part_span))
     .withColumn("l_suppkey", _offset("l_suppkey", supp_span))
     .drop("__r")
     .repartition(SF1_FILES)
     .write.mode("overwrite").parquet(f"{SF1_DIR}/lineitem.parquet"))

    (_replicate(orders, REPLICAS)
     .withColumn("o_orderkey", _offset("o_orderkey", key_span))
     .withColumn("o_custkey", _offset("o_custkey", cust_span))
     .drop("__r")
     .repartition(SF1_FILES)
     .write.mode("overwrite").parquet(f"{SF1_DIR}/orders.parquet"))

    (_replicate(cust, REPLICAS)
     .withColumn("c_custkey", _offset("c_custkey", cust_span))
     .drop("__r")
     .repartition(SF1_FILES)
     .write.mode("overwrite").parquet(f"{SF1_DIR}/customer.parquet"))

    (_replicate(supp, REPLICAS)
     .withColumn("s_suppkey", _offset("s_suppkey", supp_span))
     .drop("__r")
     .repartition(SF1_FILES)
     .write.mode("overwrite").parquet(f"{SF1_DIR}/supplier.parquet"))

    (_replicate(part, REPLICAS)
     .withColumn("p_partkey", _offset("p_partkey", part_span))
     .drop("__r")
     .repartition(SF1_FILES)
     .write.mode("overwrite").parquet(f"{SF1_DIR}/part.parquet"))

    # fixed-size geography dims stay constant at any SF (as in TPC-H)
    for dim in ("region", "nation"):
        (spark.read.parquet(f"{SRC}/{dim}.parquet")
         .write.mode("overwrite").parquet(f"{SF1_DIR}/{dim}.parquet"))

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    n_docs = docs.count()
    # BYTE-PRESERVING per-replica disjointification (r5 fix: the old
    # word-suffix variant added ~3 bytes/word, inflating the "10x"
    # corpus to 15.5x BYTES and flagging every text-regex query as
    # super-linear when it was sublinear per byte — SCALE_r5.json).
    # Each replica applies a Caesar rotation of the letters, a
    # bijective word renaming: lengths identical, per-replica Jaccard/
    # shingle structure identical, cross-replica shingles disjoint.
    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()
    rotated = F.col("text")
    for i in range(1, REPLICAS):
        rot = lower[i:] + lower[:i]
        rotated = F.when(
            F.col("__r") == i,
            F.translate("text", lower + upper, rot + rot.upper())
        ).otherwise(rotated)
    (_replicate(docs, REPLICAS)
     .withColumn("doc_id", F.col("doc_id") + F.col("__r") * F.lit(n_docs))
     .withColumn("text", rotated)
     .drop("__r")
     .repartition(SF1_FILES)
     .write.mode("overwrite").parquet(f"{SF1_DIR}/documents.parquet"))

    # load_table, not raw spark.read: events.ts may ship as parquet
    # TIMESTAMP(NANOS), which the vectorized reader rejects without the
    # conf io.load_table applies (io.py nanos handling)
    from bigdata_spark_assignment_spark.io import load_table
    ev = load_table(spark, SRC, "events")
    n_users, n_events = ev.agg(
        F.max("user_id") + 1, F.max("event_id") + 1).first()
    # offset BOTH ids per replica: each replica is an independent user
    # population with the same per-user history (10x users, same
    # per-key state/window structure — not 10x-longer histories)
    (_replicate(ev, REPLICAS)
     .withColumn("user_id", F.col("user_id") + F.col("__r") * F.lit(n_users))
     .withColumn("event_id",
                 F.col("event_id") + F.col("__r") * F.lit(n_events))
     .drop("__r")
     .repartition(SF1_FILES)
     .write.mode("overwrite").parquet(f"{SF1_DIR}/events.parquet"))

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    n_vec = emb.count()
    dim = len(emb.first()["embedding"])
    rotated = F.concat(F.slice("embedding", F.col("__r") + 1,
                               F.lit(dim) - F.col("__r")),
                       F.slice("embedding", 1, F.col("__r")))
    (_replicate(emb, REPLICAS)
     .withColumn("vec_id", F.col("vec_id") + F.col("__r") * F.lit(n_vec))
     .withColumn("embedding", rotated)
     .drop("__r")
     .repartition(SF1_FILES)
     .write.mode("overwrite").parquet(f"{SF1_DIR}/embeddings.parquet"))
    print(f"sf1 build: {time.perf_counter()-t0:.1f}s -> {SF1_DIR}",
          flush=True)


def run_sf1(spark) -> dict:
    from bigdata_spark_assignment_spark.plans import REGISTRY

    timings = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, SF1_DIR) \
            .write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 2)
        print(f"  sf1 {name}: {timings[name]}s", flush=True)
    print(json.dumps({"sf1_headline_seconds": timings}), flush=True)
    return timings


def run_sf1_full(spark) -> dict:
    """VERDICT r3 #2: the FULL bench suite at 10× — every query the
    sf0.1 bench runs (same registry functions, same noop-sink forcing,
    same warmups), with the per-query ratio against the sf0.1 numbers
    in BENCH_DETAIL.json. Prints a BASELINE.md-ready table and one
    JSON line; a >10× (super-linear) ratio is flagged."""
    import bench as _bench
    from bigdata_spark_assignment_spark.plans import REGISTRY

    _bench._warmup(spark)
    from bigdata_spark_assignment_spark.plans.similarity_plans import (
        _ivf_centers_for,
        _pca_fit_for,
        _pq_books_for,
    )
    _ivf_centers_for(spark, SF1_DIR, n_cells=16)
    _pq_books_for(spark, SF1_DIR, m=8, k_codes=64)  # r6 retune
    _pca_fit_for(spark, SF1_DIR, k=2)

    base = {}
    detail_path = os.path.join(REPO, "BENCH_DETAIL.json")
    if os.path.exists(detail_path):
        with open(detail_path) as f:
            d = json.load(f)
            if d.get("sf") == 0.1:
                base = dict(d.get("queries", {}))
                # median-of-3 suite entries are WARM (repeats reuse
                # compiled plans; bench runs from before query-scoped
                # caching also reused the slot's persisted frames);
                # the sf1 run here is
                # one COLD pass, so pair cold-vs-cold via the first
                # repeat sample or the ratio reads inflated (r8 s2:
                # q36 showed 5.2x median-paired vs 2.8x cold-paired)
                for n, samples in d.get("repeat_samples", {}).items():
                    if samples and n in base:
                        base[n] = samples[0]

    timings, rows = {}, []
    for name in sorted(REGISTRY):
        if name in _bench.BENCH_EXCLUDE:
            continue
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, SF1_DIR) \
            .write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 2)
        b = base.get(name)
        ratio = round(timings[name] / b, 1) if b else None
        flag = " SUPER-LINEAR" if ratio is not None and ratio > 10 else ""
        rows.append(f"| {name} | {b if b is not None else '—'} "
                    f"| {timings[name]} | {ratio if ratio else '—'}×{flag} |")
        print(f"  sf1-full {name}: {timings[name]}s"
              f" (sf0.1: {b}, ratio {ratio}){flag}", flush=True)
    print("| query | sf0.1 s | sf1.0 s | ratio |", flush=True)
    print("|---|---|---|---|", flush=True)
    for r in rows:
        print(r, flush=True)
    print(json.dumps({"sf1_full_seconds": timings,
                      "total": round(sum(timings.values()), 1)}),
          flush=True)
    return timings


def make_corpus_500k(spark, n_docs: int = 500_000, words: int = 60,
                     vocab: int = 2000):
    """The r2 synthetic corpus: deterministic hash-expression text,
    every 100th doc a planted near-copy of its predecessor (3 words
    changed of 60 → j ≈ 0.87 > 0.6)."""
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    src = F.when(F.col("doc_id") % 100 == 99, F.col("doc_id") - 1) \
        .otherwise(F.col("doc_id"))
    mutate = F.col("doc_id") % 100 == 99
    word = (lambda i:
            F.concat(F.lit("w"),
                     F.pmod(F.xxhash64(src, F.lit(i)), F.lit(vocab))))
    tokens = [F.when(mutate & F.lit(i < 3),
                     F.concat(F.lit("m"), F.col("doc_id") % vocab))
              .otherwise(word(i)) for i in range(words)]
    return base.select("doc_id",
                       F.concat_ws(" ", *tokens).alias("text"))


def run_cc500k(spark) -> None:
    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_clusters,
        neardup_pairs_minhash,
    )

    ckpt = "/tmp/sparkgraft_cc_ckpt"
    if os.path.isdir(ckpt):
        shutil.rmtree(ckpt)
    docs = make_corpus_500k(spark).persist()
    n = docs.count()

    t0 = time.perf_counter()
    pairs = neardup_pairs_minhash(docs, "doc_id", "text",
                                  threshold=0.6).persist()
    n_pairs = pairs.count()
    t_pairs = time.perf_counter() - t0

    t0 = time.perf_counter()
    labels = neardup_clusters(pairs, checkpoint_dir=ckpt)
    n_clustered = labels.count()
    n_clusters = labels.select("cluster_id").distinct().count()
    t_cc = time.perf_counter() - t0

    planted = n // 100  # one near-copy pair per 100 docs
    print(json.dumps({
        "cc500k": {"n_docs": n, "pairs_s": round(t_pairs, 1),
                   "n_pairs": n_pairs, "planted_pairs": planted,
                   "cc_reliable_ckpt_s": round(t_cc, 1),
                   "n_clustered_vertices": n_clustered,
                   "n_clusters": n_clusters,
                   "checkpoint_dir": ckpt}}), flush=True)
    docs.unpersist()
    pairs.unpersist()


def run_hh(spark, n_tokens: int = 40_000_000,
           n_distinct: int = 4_000_000, n_hot: int = 200) -> None:
    """Heavy hitters where the sketch prune actually matters: a token
    stream whose domain (~n_distinct) dwarfs the survivor set (n_hot).
    The naive GROUP BY shuffles every distinct token; the two-pass
    Misra-Gries plan shuffles only sketch candidates. Both are timed on
    the same stream and must return identical results.

    Stream shape: 50% of positions draw one of ``n_hot`` hot tokens
    (uniform → each hot token ≈ n_tokens/(2·n_hot) occurrences), 50%
    draw from the ``n_distinct`` long tail (each ≈ 5 occurrences).
    Threshold sits far above the tail and far below the hot band."""
    from bigdata_spark_assignment_spark.operators.sketches import (
        heavy_hitters,
    )

    h = F.xxhash64("id")
    tok = F.when(F.pmod(h, F.lit(2)) == 0,
                 F.concat(F.lit("hot"), F.pmod(h, F.lit(n_hot)))) \
        .otherwise(F.concat(F.lit("t"), F.pmod(h, F.lit(n_distinct))))
    stream = spark.range(n_tokens).select(tok.alias("token")).persist()
    stream.count()  # materialize once so both plans read the same cache
    threshold = n_tokens // (4 * n_hot)

    t0 = time.perf_counter()
    naive = {(r.token, r.cnt) for r in
             stream.groupBy("token")
             .agg(F.count(F.lit(1)).alias("cnt"))
             .filter(F.col("cnt") >= threshold).collect()}
    t_naive = time.perf_counter() - t0

    t0 = time.perf_counter()
    mg = {(r.token, r.cnt) for r in
          heavy_hitters(stream, "token", threshold=threshold,
                        capacity=8192).collect()}
    t_mg = time.perf_counter() - t0

    assert mg == naive, (len(mg), len(naive))
    print(json.dumps({
        "hh": {"n_tokens": n_tokens, "n_distinct_domain": n_distinct,
               "threshold": threshold, "survivors": len(mg),
               "naive_groupby_s": round(t_naive, 1),
               "mg_two_pass_s": round(t_mg, 1),
               "identical": True}}), flush=True)
    stream.unpersist()


def run_hotband(spark, n_docs: int = 100_000) -> None:
    """r5 hot-band-cap evidence at scale: a boilerplate-heavy corpus
    (every doc shares a 40-token header; every 50th doc has a planted
    near-copy differing in 1 of 12 body tokens) where UNCAPPED banding
    hot-spots: header-dominated band mins put most docs into one
    bucket per band, an O(bucket²) candidate explosion. With
    ``max_band_size=50`` the candidate stage is bounded and ALL
    planted pairs must still verify (they meet in body-derived
    size-2 buckets)."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_pairs_minhash,
    )

    header = " ".join(f"h{i}" for i in range(40))
    is_copy = F.pmod("doc_id", F.lit(100)) == 1
    # doc 100j+1 reuses doc 100j's body base with token 7 mutated;
    # every other doc's body is unique to it
    base = F.when(is_copy, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    tok = [F.when(is_copy & F.lit(k == 7),
                  F.concat(F.lit("mut"), F.col("doc_id")))
           .otherwise(F.concat(F.lit("u"), base, F.lit(f"x{k}")))
           for k in range(12)]
    docs = (spark.range(n_docs).select(F.col("id").alias("doc_id"))
            .select("doc_id",
                    F.concat_ws(" ", F.lit(header), *tok).alias("text"))
            .persist())
    n = docs.count()
    planted = n // 100

    t0 = time.perf_counter()
    pairs = {(r.id_a, r.id_b) for r in
             neardup_pairs_minhash(docs, "doc_id", "text", threshold=0.8,
                                   max_band_size=50).collect()}
    t_capped = time.perf_counter() - t0
    expected = {(i, i + 1) for i in range(0, n, 100)}
    assert pairs == expected, (len(pairs), len(expected))
    print(json.dumps({
        "hotband": {"n_docs": n, "planted_pairs": planted,
                    "capped_pairs_s": round(t_capped, 1),
                    "recall": 1.0, "precision": 1.0,
                    "max_band_size": 50}}), flush=True)
    docs.unpersist()


def run_text500k(spark) -> None:
    """Session-2 r3 evidence: the two new text operators at 500k docs
    (30M tokens). Expectations are EXACT because the corpus is
    deterministic: each planted near-copy pair shares the 57-token
    suffix run -> 48 distinct 10-token windows per pair, no
    cross-pair or chance collisions at vocab 2000.
    """
    from bigdata_spark_assignment_spark.operators.dedup import (
        shared_window_stats,
    )
    from bigdata_spark_assignment_spark.operators.textual import (
        gram_coverage_stats_udf,
    )

    docs = make_corpus_500k(spark).persist()
    n = docs.count()
    planted_pairs = n // 100

    stats = gram_coverage_stats_udf()
    t0 = time.perf_counter()
    cov = (docs.select((F.col("doc_id") % 5).alias("grp"),
                       stats("text").alias("s"))
           .groupBy("grp")
           .agg(F.avg("s.top2_chars").alias("avg_top2"),
                F.avg("s.dup5_chars").alias("avg_dup5"))
           .collect())
    t_cov = time.perf_counter() - t0

    t0 = time.perf_counter()
    sw = shared_window_stats(docs, window_tokens=10).first()
    t_sw = time.perf_counter() - t0
    expect_windows = planted_pairs * 48
    assert sw.n_shared_windows == expect_windows, sw
    assert sw.n_docs_with_shared == planted_pairs * 2, sw
    assert sw.n_shared_occurrences == expect_windows * 2, sw

    # unigram-LM scoring: the token-keyed freq join over ~30M tokens
    # is the heaviest shuffle of the q74 additions. Sanity: logprob is
    # a mean of ln p(token) < 0, and every doc gets scored.
    from bigdata_spark_assignment_spark.operators.textual import (
        unigram_doc_scores,
    )
    t0 = time.perf_counter()
    lm = (unigram_doc_scores(docs)
          .agg(F.count(F.lit(1)).alias("n_docs"),
               F.avg("logprob").alias("avg_lp"),
               F.max("logprob").alias("max_lp")).first())
    t_lm = time.perf_counter() - t0
    assert lm.n_docs == n, lm
    assert lm.max_lp < 0.0, lm

    # packing window at 500k docs with a PROPERLY SHARDED stream key
    # (doc_id % 256 — the scale shape the operator docstring mandates;
    # a 5-value lang key would cap parallelism at 5). Invariant: total
    # sequences over all shards == sum over shards of ceil(tokens/512)
    # >= ceil(total_tokens/512).
    from bigdata_spark_assignment_spark.operators.textual import (
        packing_accounting,
    )
    sharded = docs.withColumn("shard", F.pmod("doc_id", F.lit(256)))
    t0 = time.perf_counter()
    pk = (packing_accounting(sharded, seq_tokens=512, part_col="shard")
          .groupBy("shard")
          .agg((F.max("seq_last") + 1).alias("n_seqs"),
               F.sum("n_toks").alias("toks"))
          .agg(F.sum("n_seqs").alias("total_seqs"),
               F.sum("toks").alias("total_toks")).first())
    t_pack = time.perf_counter() - t0
    assert pk.total_seqs >= (pk.total_toks + 511) // 512, pk

    print(json.dumps({
        "text500k": {"n_docs": n,
                     "arrow_coverage_s": round(t_cov, 1),
                     "coverage_groups": len(cov),
                     "substr_windows_s": round(t_sw, 1),
                     "unigram_lm_s": round(t_lm, 1),
                     "packing_s": round(t_pack, 1),
                     "packing_seqs": pk.total_seqs,
                     "avg_logprob": round(lm.avg_lp, 3),
                     "n_shared_windows": sw.n_shared_windows,
                     "n_docs_with_shared": sw.n_docs_with_shared,
                     "planted_pairs": planted_pairs}}), flush=True)
    docs.unpersist()


def run_graphrounds(spark) -> dict:
    """VERDICT r5 #9: rounds-to-converge + per-round wall time for the
    iterative graph ops on the q53 MinHash pair graph at sf0.1 AND the
    10x sf1 build, so the 100x extrapolation is arithmetic
    (rounds x per-round shuffle cost), not faith. Star contraction's
    round count should stay ~flat (O(log^2 n)); propagation's should
    track component diameter (tiny for near-dup blobs)."""
    import time

    from bigdata_spark_assignment_spark.io import load_table
    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_clusters, neardup_clusters_star, neardup_pairs_minhash)

    out: dict = {}
    for tag, sf_dir in (("sf0.1", "/root/testdata/sf0.1"),
                        ("sf1", SF1_DIR)):
        docs = load_table(spark, sf_dir, "documents", validate=False)
        pairs = neardup_pairs_minhash(docs, "doc_id", "text",
                                      threshold=0.6).persist()
        n_pairs = pairs.count()
        rec: dict = {"n_pairs": n_pairs}
        for name, fn in (("prop", neardup_clusters),
                         ("star", neardup_clusters_star)):
            stats: list = []
            t0 = time.perf_counter()
            fn(pairs, round_stats=stats).count()
            rec[name] = {"total_seconds": round(time.perf_counter() - t0, 2),
                         "rounds": len(stats), "per_round": stats}
        pairs.unpersist()
        out[tag] = rec
        print(f"GRAPHROUNDS {tag}: pairs={n_pairs} "
              f"prop={rec['prop']['rounds']}r/{rec['prop']['total_seconds']}s "
              f"star={rec['star']['rounds']}r/{rec['star']['total_seconds']}s")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "GRAPHROUNDS_r6.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    return out


def run_sf1_paired(spark) -> dict:
    """r10 protocol upgrade: INTERLEAVED cold pairing. The r8-r10
    scale records all paid a denominator problem — the sf0.1 base came
    from a bench run in a DIFFERENT session, sometimes hours away, and
    the host's state moved between them (r10: the same-code 46-slot
    cold base read 145.0s at round open and 114.0s at close, swinging
    the sf1 ratio 2.19-2.88x with zero code change). Here each slot
    runs sf0.1 then sf1 back-to-back in the same process, so both ends
    of every ratio see the same host minute; per-slot ratios and the
    total are then host-drift-robust. Each registered query releases
    the previous one's persists when it starts (``cache``), so neither
    side reads the other's cached frames. Unlike bench.py, q69's
    sink-write phase is NOT subtracted — it appears on BOTH sides of
    the pair, so the slot's ratio still reads write-inclusive scaling
    (a deliberate difference: this harness measures scaling shape,
    not the scored suite seconds)."""
    import bench as _bench
    from bigdata_spark_assignment_spark.plans import REGISTRY
    from bigdata_spark_assignment_spark.plans.similarity_plans import (
        _ivf_centers_for,
        _pca_fit_for,
        _pq_books_for,
    )

    if not os.path.isdir(SF1_DIR):
        build_sf1(spark)
    _bench._warmup(spark)
    for d in (SRC, SF1_DIR):  # index builds are once-per-corpus costs
        _ivf_centers_for(spark, d, n_cells=16)
        _pq_books_for(spark, d, m=8, k_codes=64)
        _pca_fit_for(spark, d, k=2)

    rows: dict = {}
    tot_s, tot_b = 0.0, 0.0
    for name in sorted(REGISTRY):
        if name in _bench.BENCH_EXCLUDE:
            continue
        q = REGISTRY[name]
        t0 = time.perf_counter()
        q.fn(spark, SRC).write.format("noop").mode("overwrite").save()
        small = time.perf_counter() - t0
        t0 = time.perf_counter()
        q.fn(spark, SF1_DIR) \
            .write.format("noop").mode("overwrite").save()
        big = time.perf_counter() - t0
        tot_s += small
        tot_b += big
        rows[name] = {"sf01_s": round(small, 2), "sf1_s": round(big, 2),
                      "ratio": round(big / small, 1)}
        print(f"  paired {name}: {small:.2f}s -> {big:.2f}s "
              f"({big / small:.1f}x)", flush=True)
    out = {"sf01_total_s": round(tot_s, 1), "sf1_total_s": round(tot_b, 1),
           "ratio_total": round(tot_b / tot_s, 2), "queries": rows}
    print(json.dumps({"sf1_paired": out}), flush=True)
    return out


def run_q50_density(spark) -> dict:
    """VERDICT r9 #5: retire the standing q50 scale footnote by
    MEASURING the three regimes instead of asserting them.

    q50's radius leg derives its integer plane from md5(event_id), so
    the plane's AREA is a query knob (``side``), not a fixture
    property: the registered query grows side as sqrt(points) past the
    driver-checked scales (plans.relational.q50_radius_leg, the r6
    fix), which IS the constant-density 10× fixture — each replica
    adds area, not density. This experiment times, cold, in order:

    * the registered full slot at sf0.1 and sf1 (the bench pairing);
    * the radius leg ALONE at both scales under the auto side
      (sf0.1: 1000; sf1: 3162 — constant density). Constant density ×
      10 points ≈ 10× pair work: a ratio near the ~10× work ratio
      with flat per-pair cost means the leg scales LINEARLY and the
      slot's high suite ratio is saturation of local[32] by a leg
      with no sub-linear term, not a plan defect;
    * the radius leg at sf1 with side FORCED to 1000 — the pre-r6
      constant-AREA (densified) regime, for contrast: candidate
      pairs grow ~100×, so this run should dwarf the constant-density
      one (r6 measured 162.7s for the slot in this regime).
    """
    from bigdata_spark_assignment_spark.plans import REGISTRY
    from bigdata_spark_assignment_spark.plans.relational import (
        q50_radius_leg,
    )

    if not os.path.isdir(SF1_DIR):
        build_sf1(spark)
    import bench as _bench
    _bench._warmup(spark)

    name = "q50_salted_join_hot_keys"
    out: dict = {}
    for tag, d in (("sf0.1", SRC), ("sf1", SF1_DIR)):
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, d) \
            .write.format("noop").mode("overwrite").save()
        full = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        q50_radius_leg(spark, d) \
            .write.format("noop").mode("overwrite").save()
        rad = round(time.perf_counter() - t0, 2)
        # full and rad are two independently-timed cold runs, so host
        # variance can make full < rad; clamp the residual at 0 and
        # flag it (r10 ADVICE) — a negative "join+diag cost" is
        # measurement noise, not information
        residual = round(full - rad, 2)
        out[tag] = {"full_slot_s": full,
                    "radius_leg_const_density_s": rad,
                    "join_diag_residual_s": max(residual, 0.0)}
        if residual < 0:
            out[tag]["join_diag_residual_note"] = (
                f"raw residual {residual}s was negative (independent "
                "cold-run timing noise); clamped to 0")
        print(f"  q50density {tag}: full={full}s radius={rad}s",
              flush=True)
    t0 = time.perf_counter()
    q50_radius_leg(spark, SF1_DIR, side=1000) \
        .write.format("noop").mode("overwrite").save()
    flat = round(time.perf_counter() - t0, 2)
    out["sf1_radius_const_AREA_side1000_s"] = flat
    out["ratios"] = {
        "full_slot": round(out["sf1"]["full_slot_s"]
                           / out["sf0.1"]["full_slot_s"], 1),
        "radius_const_density": round(
            out["sf1"]["radius_leg_const_density_s"]
            / out["sf0.1"]["radius_leg_const_density_s"], 1),
        # meaningless if either residual collapsed into timing noise
        # (clamped at 0 / sub-100ms): report null rather than a
        # nonsense ratio (r10 ADVICE)
        "join_diag_residual": (round(
            out["sf1"]["join_diag_residual_s"]
            / out["sf0.1"]["join_diag_residual_s"], 1)
            if min(out["sf1"]["join_diag_residual_s"],
                   out["sf0.1"]["join_diag_residual_s"]) >= 0.1
            else None),
        "const_area_vs_const_density_at_sf1": round(
            flat / out["sf1"]["radius_leg_const_density_s"], 1),
    }
    print(json.dumps({"q50_density": out}), flush=True)
    return out


def main() -> None:
    what = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = get_session(app_name="scale-runs")
    if what in ("sf1", "all"):
        build_sf1(spark)
        run_sf1(spark)
    if what == "sf1-full":
        build_sf1(spark)
        run_sf1_full(spark)
    if what == "q50density":
        run_q50_density(spark)
    if what == "sf1-paired":
        run_sf1_paired(spark)
    if what in ("cc500k", "all"):
        run_cc500k(spark)
    if what in ("hh", "all"):
        run_hh(spark)
    if what in ("hotband", "all"):
        run_hotband(spark)
    if what in ("text500k", "all"):
        run_text500k(spark)
    if what == "graphrounds":
        if not os.path.isdir(SF1_DIR):
            build_sf1(spark)
        run_graphrounds(spark)


if __name__ == "__main__":
    main()
