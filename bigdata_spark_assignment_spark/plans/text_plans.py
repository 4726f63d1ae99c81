"""Text-analysis queries (SURVEY.md §2.9): language ID, quality
scoring, token counting, fingerprint stats, multimodal byte columns.

The lang-ID / quality oracles are *generated from the same marker
tables* as the Spark expressions (operators.textual.LANG_MARKERS), so
the two sides cannot drift apart by transcription error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .. import cache
from ..io import load_table
from ..operators.textual import (
    LANG_MARKERS,
    WS_SPLIT,
    bpe_ish_token_count_expr,
    fingerprint_expr,
    lang_id_expr,
    quality_score_expr,
    token_count_expr,
)
from .registry import fround, register


def _duck_marker_score(lang: str) -> str:
    """DuckDB expression mirroring operators.textual.lang_score_expr
    (one alternation regex per language, same match counts)."""
    alternation = "|".join(LANG_MARKERS[lang])
    return rf"len(regexp_extract_all(lower(text), '\b({alternation})\b'))"


def _duck_lang_id_case() -> str:
    """DuckDB CASE mirroring operators.textual.lang_id_expr (same
    tie-break order)."""
    return f"""
      CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
           WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
           WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
           WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
           WHEN s_fr > 0 THEN 'fr'
           ELSE 'und' END
    """


_DSIR_B = 256   # DSIR hashed-bigram buckets (the model is B rows, always)
_DSIR_K = 25    # DSIR selected-for-training head size


# q36/q77 oracle pieces (r8, VERDICT r7 #5 de-overload): the lang-id
# suite had grown to 12 part tags; the per-cell MI diagnostic and
# the DSIR selection legs move to q77_textual_extras (q13 during its
# r9 prefix tour). The marker-score CTE is shared.
_Q36_SHARED_WITH = f"""
    WITH s AS (
      SELECT lang, text,
             {_duck_marker_score('en')} AS s_en,
             {_duck_marker_score('es')} AS s_es,
             {_duck_marker_score('de')} AS s_de,
             {_duck_marker_score('fr')} AS s_fr
      FROM documents)
"""

_Q36_LEG_SQL: dict[str, str] = {
    "confusion": f"""
    SELECT 'confusion' AS part, lang AS k1,
           {_duck_lang_id_case()} AS k2,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM s
    GROUP BY 1, 2, 3
""",
    "drift": """
    -- r5 session 3: per-source unigram entropy + KL vs the corpus
    -- mixture (operators.textual.distribution_drift) — formula
    -- arrangement mirrored verbatim ((s*1.0/ng), single ln)
    SELECT 'drift', source, NULL, ng,
           ROUND(-SUM((s * 1.0 / ng) * ln(s * 1.0 / ng)), 4),
           ROUND(SUM((s * 1.0 / ng) * ln((s * 1.0 / ng) / (c * 1.0 / n))), 4)
    FROM (
      WITH toks AS (
        SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS token
        FROM documents),
      tok AS (SELECT * FROM toks WHERE token <> ''),
      ct AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
      st AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS s
             FROM tok GROUP BY 1, 2),
      ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ng FROM tok GROUP BY 1)
      SELECT st.source, st.token, st.s, ns.ng, ct.c, nt.n
      FROM st JOIN ns USING (source) JOIN ct USING (token) CROSS JOIN nt)
    GROUP BY source, ng
""",
    "mi_cells": """
    -- r6: pointwise MI per observed (lang, source) cell
    SELECT 'mi_cells', g.lang, g.source, g.n_ab,
           ROUND(ln(g.n_ab * g.n * 1.0 / (g.na * g.nb)), 6), NULL
    FROM (
      WITH cl AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_ab
                  FROM documents GROUP BY 1, 2)
      SELECT lang, source, n_ab,
             SUM(n_ab) OVER (PARTITION BY lang) AS na,
             SUM(n_ab) OVER (PARTITION BY source) AS nb,
             SUM(n_ab) OVER () AS n
      FROM cl) g
""",
    "mi": """
    -- r6: mutual information + Cramér's V summary (same cell table;
    -- chi2 via the zero-cell-free identity chi2 = n + sum((o-e)^2/e - e))
    SELECT 'mi', 'lang|source', NULL, m.n, ROUND(m.mi, 6),
           ROUND(v.v, 6)
    FROM (
      WITH cl AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_ab
                  FROM documents GROUP BY 1, 2),
      mg AS (SELECT lang, source, n_ab,
                    SUM(n_ab) OVER (PARTITION BY lang) AS na,
                    SUM(n_ab) OVER (PARTITION BY source) AS nb,
                    SUM(n_ab) OVER () AS n
             FROM cl)
      SELECT CAST(MAX(n) AS BIGINT) AS n,
             SUM((n_ab * 1.0 / n) * ln(n_ab * n * 1.0 / (na * nb)))
               AS mi
      FROM mg) m
    CROSS JOIN (
      WITH cl AS (SELECT lang, source,
                         CAST(COUNT(*) AS DOUBLE) AS o
                  FROM documents GROUP BY 1, 2),
      sc AS (SELECT o,
                    SUM(o) OVER (PARTITION BY lang)
                      * SUM(o) OVER (PARTITION BY source)
                      / SUM(o) OVER () AS e
             FROM cl),
      ag AS (SELECT SUM((o - e) * (o - e) / e - e) + SUM(o) AS chi2,
                    SUM(o) AS n,
                    LEAST((SELECT COUNT(DISTINCT lang) FROM documents),
                          (SELECT COUNT(DISTINCT source) FROM documents))
                      AS k
             FROM sc)
      SELECT CASE WHEN k > 1 THEN sqrt(chi2 / (n * (k - 1))) END AS v
      FROM ag) v
""",
    "nb": """
    -- r7 session 3: multinomial Naive Bayes language classifier
    -- (operators.textual.nb_language_classifier) — the LEARNED
    -- companion to the marker heuristic. Micro-nat quantized
    -- log-likelihoods (the q56/q07-cmat exact-integer discipline):
    -- document scores are exact BIGINT sums, argmax ties break
    -- label-ascending. OOV test tokens drop (standard NB); zero-token
    -- docs never enter the tf table on either side.
    SELECT part, k1, k2, n, v1, v2
    FROM (
      WITH nb_doc AS (
        SELECT doc_id, lang AS lbl, text,
               (CAST(('0x' || substring(md5('nb:' || CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 5) = 0 AS is_test
        FROM documents),
      nb_tf AS (
        SELECT doc_id, lbl, is_test, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, lbl, is_test,
                     unnest(string_split_regex(lower(text), '\\s+')) AS token
              FROM nb_doc)
        WHERE token <> '' GROUP BY 1, 2, 3, 4),
      nb_ct AS (SELECT lbl, token, SUM(tf) AS n_tc
                FROM nb_tf WHERE NOT is_test GROUP BY 1, 2),
      nb_tot AS (SELECT lbl, SUM(n_tc) AS n_c FROM nb_ct GROUP BY 1),
      nb_vn AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM nb_ct),
      nb_dt AS (SELECT DISTINCT doc_id, lbl, is_test FROM nb_tf),
      nb_classes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_train_docs
                     FROM nb_dt WHERE NOT is_test GROUP BY 1),
      nb_nd AS (SELECT CAST(SUM(n_train_docs) AS BIGINT) AS nd FROM nb_classes),
      nb_pri AS (SELECT lbl,
                        CAST(ROUND(LN(n_train_docs / nd) * 1000000) AS BIGINT)
                          AS priq
                 FROM nb_classes CROSS JOIN nb_nd),
      nb_ll AS (
        SELECT t.lbl AS cls, vt.token,
               CAST(ROUND(LN((COALESCE(c.n_tc, 0) + 1.0) / (t.n_c + vn.v))
                          * 1000000) AS BIGINT) AS llq
        FROM (SELECT DISTINCT token FROM nb_ct) vt
        CROSS JOIN nb_tot t CROSS JOIN nb_vn vn
        LEFT JOIN nb_ct c ON c.token = vt.token AND c.lbl = t.lbl),
      nb_evq AS (
        SELECT f.doc_id, f.lbl AS true_lbl, l.cls, SUM(f.tf * l.llq) AS evq
        FROM nb_tf f JOIN nb_ll l ON f.token = l.token
        WHERE f.is_test GROUP BY 1, 2, 3),
      nb_sc AS (
        SELECT g.doc_id, g.true_lbl, g.cls, g.priq + COALESCE(e.evq, 0) AS scoreq
        FROM (SELECT d.doc_id, d.lbl AS true_lbl, p.lbl AS cls, p.priq
              FROM nb_dt d CROSS JOIN nb_pri p WHERE d.is_test) g
        LEFT JOIN nb_evq e ON e.doc_id = g.doc_id AND e.cls = g.cls),
      nb_pred AS (
        SELECT doc_id, true_lbl, cls AS pred_lbl
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY scoreq DESC, cls ASC) AS rn
              FROM nb_sc)
        WHERE rn = 1)
      SELECT 'nb_conf' AS part, true_lbl AS k1, pred_lbl AS k2,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
      FROM nb_pred GROUP BY 1, 2, 3
      UNION ALL
      SELECT 'nb_acc', NULL, NULL, CAST(COUNT(*) AS BIGINT),
             ROUND(SUM(CASE WHEN pred_lbl = true_lbl THEN 1 ELSE 0 END)
                   * 1.0 / COUNT(*), 4),
             CAST(SUM(CASE WHEN pred_lbl = true_lbl THEN 1 ELSE 0 END)
                  AS DOUBLE)
      FROM nb_pred
      UNION ALL
      SELECT 'nb_cls', c.lbl, NULL, CAST(COALESCE(a.n_act, 0) AS BIGINT),
             ROUND(CASE WHEN p.n_pred > 0
                        THEN COALESCE(a.n_corr, 0) * 1.0 / p.n_pred END, 4),
             ROUND(CASE WHEN a.n_act > 0
                        THEN a.n_corr * 1.0 / a.n_act END, 4)
      FROM nb_classes c
      LEFT JOIN (SELECT true_lbl AS lbl, CAST(COUNT(*) AS BIGINT) AS n_act,
                        CAST(SUM(CASE WHEN pred_lbl = true_lbl
                                      THEN 1 ELSE 0 END) AS BIGINT) AS n_corr
                 FROM nb_pred GROUP BY 1) a USING (lbl)
      LEFT JOIN (SELECT pred_lbl AS lbl, CAST(COUNT(*) AS BIGINT) AS n_pred
                 FROM nb_pred GROUP BY 1) p USING (lbl)
      UNION ALL
      SELECT 'nb_model', NULL, NULL, vn.v, CAST(nd.nd AS DOUBLE),
             CAST((SELECT SUM(n_tc) FROM nb_ct) AS DOUBLE)
      FROM nb_vn vn CROSS JOIN nb_nd nd
      UNION ALL
      SELECT 'nb_top', lbl, token, CAST(rank AS BIGINT),
             ROUND(lo_micro / 1000000.0, 6), NULL
      FROM (
        SELECT lbl, token, lo_micro,
               row_number() OVER (PARTITION BY lbl
                   ORDER BY lo_micro DESC, token ASC) AS rank
        FROM (
          SELECT c.lbl, c.token,
                 CAST(ROUND((LN((c.n_tc + 1.0) / (t.n_c + vn.v))
                             - LN((tt.n_t_all - c.n_tc + 1.0)
                                  / (na.n_all - t.n_c + vn.v)))
                            * 1000000) AS BIGINT) AS lo_micro
          FROM nb_ct c
          JOIN (SELECT token, SUM(n_tc) AS n_t_all
                FROM nb_ct GROUP BY 1) tt USING (token)
          JOIN nb_tot t USING (lbl)
          CROSS JOIN (SELECT SUM(n_c) AS n_all FROM nb_tot) na
          CROSS JOIN nb_vn vn))
      WHERE rank <= 3) nb
""",
    "dsir": f"""
    -- r7 session 3: DSIR importance-resampling data selection (Xie
    -- et al. 2023) — target slice = lang 'en', features = word
    -- bigrams md5-hashed into {_DSIR_B} buckets, weight = mean
    -- per-gram log-ratio of the add-1-smoothed target vs raw bucket
    -- models (operators.textual.dsir_importance_scores)
    SELECT part, k1, k2, n, v1, v2
    FROM (
      WITH dwords AS (
        SELECT doc_id, source,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
               string_split_regex(lower(text), '\\s+') AS w
        FROM documents),
      docc AS (
        SELECT doc_id, source, is_t,
               CAST(('0x' || substr(md5(bg), 1, 8)) AS BIGINT)
                 % {_DSIR_B} AS bkt
        FROM (SELECT doc_id, source, is_t,
                     unnest([array_to_string(w[i:i+1], ' ')
                             for i in range(1, len(w))]) AS bg
              FROM dwords WHERE len(w) >= 2)),
      dbc AS (
        SELECT bkt, CAST(COUNT(*) AS BIGINT) AS rc,
               CAST(SUM(is_t) AS BIGINT) AS tc
        FROM docc GROUP BY 1),
      dtot AS (SELECT SUM(rc) AS rtot, SUM(tc) AS ttot FROM dbc),
      dlr AS (
        SELECT bkt, rc, tc,
               ln((tc + 1.0) / (ttot + {_DSIR_B}.0))
                 - ln((rc + 1.0) / (rtot + {_DSIR_B}.0)) AS lr
        FROM dbc CROSS JOIN dtot),
      dsc AS (
        SELECT docc.doc_id, ANY_VALUE(docc.source) AS source,
               AVG(dlr.lr) AS score, CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM docc JOIN dlr USING (bkt)
        GROUP BY docc.doc_id),
      dsel AS (
        SELECT doc_id, source, n_grams, ROUND(score, 4) AS rs,
               ROW_NUMBER() OVER (ORDER BY ROUND(score, 4) DESC,
                                  doc_id) AS rn
        FROM dsc)
      SELECT 'dsir_source' AS part, source AS k1,
             CAST(NULL AS VARCHAR) AS k2,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(AVG(score), 4) AS v1, CAST(NULL AS DOUBLE) AS v2
      FROM dsc GROUP BY source
      UNION ALL
      SELECT 'dsir_sel', source, CAST(doc_id AS VARCHAR), n_grams,
             rs, NULL
      FROM dsel WHERE rn <= {_DSIR_K}
      UNION ALL
      SELECT 'dsir_bkt', NULL, CAST(bkt AS VARCHAR), rc,
             ROUND(lr, 4), NULL
      FROM (SELECT bkt, rc, lr,
                   ROW_NUMBER() OVER (ORDER BY rc DESC, bkt) AS rn
            FROM dlr)
      WHERE rn <= 10) dsir
""",
}

Q36_PARTS = ("confusion", "nb_conf", "nb_acc",
             "nb_cls", "nb_model", "nb_top")
Q77_PARTS = ("drift", "mi", "mi_cells",
             "dsir_source", "dsir_sel", "dsir_bkt")


def _q36_oracle(leg_keys) -> str:
    union = "\n    UNION ALL\n".join(_Q36_LEG_SQL[t] for t in leg_keys)
    return (f"{_Q36_SHARED_WITH}"
            f" SELECT part, k1, k2, n, v1, v2 FROM (\n{union}\n"
            f"    ) u(part, k1, k2, n, v1, v2)")


_LANG_ID_ORACLE = _q36_oracle(("confusion", "nb"))
_TEXTUAL_EXTRAS_ORACLE = _q36_oracle(
    ("drift", "mi", "mi_cells", "dsir"))


@register(
    "q36_lang_id_confusion",
    oracle=_LANG_ID_ORACLE,
    tags=("text", "langid", "nb", "classifier"),
    parts=Q36_PARTS,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-language diagnostics, HEADLINE slot: the heuristic
    lang-id confusion table plus the learned NB classifier family —
    the slot's cost and hash risk now track its headline operator
    (the two language classifiers). Leg construction and design notes
    live in :func:`_lang_suite_legs`; the corpus-mixture diagnostics
    (drift, MI summary, per-cell MI) and the DSIR selection legs
    live in ``q77_textual_extras`` (r8 de-overload — VERDICT r7 #5;
    drift/mi moved r8 session 2).
    """
    legs = _lang_suite_legs(spark, sf_dir)
    out = legs[Q36_PARTS[0]]
    for t in Q36_PARTS[1:]:
        out = out.unionByName(legs[t])
    return out


@register(
    "q77_textual_extras",
    oracle=_TEXTUAL_EXTRAS_ORACLE,
    tags=("text", "drift", "mi", "dsir", "data-selection"),
    parts=Q77_PARTS,
)
def textual_extras_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-language diagnostics, second slot (r8, VERDICT r7
    #5): per-source distribution drift (entropy + KL), the
    mutual-information summary row, the per-cell pointwise-MI table
    and the DSIR importance legs (per-source weights, deterministic
    top-k head, heaviest model buckets). Driver-checked as
    q13_textual_extras in r9 (CORRECTNESS_r09 green); rotated back
    OUT of the 50-entry prefix in r10 (renamed q13→q77) to make room
    for the never-checked companions (VERDICT r9 #1). Held green by
    tests/driver_sim.py + tests/test_oracle_parity.py meanwhile;
    excluded from bench.py (see q75's note).
    """
    legs = _lang_suite_legs(spark, sf_dir)
    out = legs[Q77_PARTS[0]]
    for t in Q77_PARTS[1:]:
        out = out.unionByName(legs[t])
    return out


def _lang_suite_legs(spark: SparkSession,
                     sf_dir: str) -> "dict[str, DataFrame]":
    """Per-leg builders for the q36/q77 language suites, tagged:

    * ``confusion`` — heuristic language ID vs the labeled lang column
      as a confusion table. (Accuracy is whatever the marker lists
      earn; determinism and oracle parity are the contract.)
    * ``drift`` — r5 session 3: per-source unigram Shannon entropy and
      KL(P_source ‖ P_corpus) (operators.textual.distribution_drift) —
      the data-mixture drift monitor: a source whose language diverges
      from the mixture moves its KL before a trained model would. Both
      sums re-derived exactly by the oracle.
    * ``mi_cells`` / ``mi`` — r6: lang × source association
      (operators.relational.categorical_mi_cells / cramers_v):
      pointwise MI per observed cell from marginal window sums over
      the tiny cell table, then the weighted-sum mutual information
      and Cramér's V (χ² via the zero-cell-free identity) as one
      summary row — "is the mixture's language profile independent
      of its source?", the pre-training mixture diagnostic.
    * ``nb_conf``/``nb_acc``/``nb_cls``/``nb_model``/``nb_top`` —
      r7 session 3: multinomial Naive Bayes language classifier
      (operators.textual.nb_language_classifier) — the LEARNED
      classifier next to the heuristic's confusion table, the shape
      of the fastText-style filters used on LLM pre-training corpora.
      Trained on a deterministic 4/5 hash split, scored on the held
      fold with micro-nat-quantized log-likelihoods (exact BIGINT
      score sums — partition-order invariant, argmax ties break
      label-ascending). Parts: NB confusion cells, overall accuracy,
      per-class precision/recall, model card (V, train docs/tokens),
      and top-3 one-vs-rest log-odds tokens per class.
    * ``dsir_source``/``dsir_sel``/``dsir_bkt`` — r7 session 3: the
      DIAGNOSTIC view of DSIR importance weighting (Xie et al. 2023;
      operators.textual.dsir_importance_scores — the probabilistic
      SAMPLING end lives in cleaning.dsir_select / q11's Gumbel
      top-k): target slice = lang 'en', features = word BIGRAMS
      md5-hashed into 256 buckets, weight = mean per-gram log-ratio
      of the add-1-smoothed target vs raw bucket models
      (length-invariant, so it reads as a mixture score). Per-source
      doc counts + mean importance (the reweighting readout beside
      ``drift``'s KL), the top-25 deterministic head (rank on the
      4 dp rounded score, doc_id ties), and the 10 heaviest model
      buckets (the fit is inspectable). 100 TB: the model is 256 rows
      regardless of corpus size and rides a broadcast both ways — the
      whole op is one tokenize pass + two key-bounded aggregates.
    """
    from ..io import fanout_cache
    from ..operators.textual import distribution_drift

    # fanout_cache (r8): this slot makes ~8 per-byte-heavy passes over
    # documents (lang-id regex, drift tokenize, NB tokenize/score,
    # DSIR bigrams) — shuffle the one-row-group scan to full
    # parallelism ONCE and let every pass read the cache
    docs = fanout_cache(load_table(spark, sf_dir, "documents"))
    conf = (
        docs.select("lang", lang_id_expr(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("confusion").alias("part"),
                F.col("lang").alias("k1"), F.col("pred_lang").alias("k2"),
                "n", F.lit(None).cast("double").alias("v1"),
                F.lit(None).cast("double").alias("v2"))
    )
    drift = (distribution_drift(docs, "source", "text")
             .select(F.lit("drift").alias("part"),
                     F.col("source").alias("k1"),
                     F.lit(None).cast("string").alias("k2"),
                     F.col("n_tokens").alias("n"),
                     fround(F.col("entropy")).alias("v1"),
                     fround(F.col("kl_vs_corpus")).alias("v2")))

    from ..operators.relational import categorical_mi_cells, cramers_v

    # mi/mi_cells: lang x source association — per-cell pointwise MI
    # plus the weighted-sum mutual information and Cramér's V summary
    # (is the mixture's language profile independent of its source?)
    cells = categorical_mi_cells(docs, "lang", "source")
    mi_cells = cells.select(
        F.lit("mi_cells").alias("part"), F.col("a").alias("k1"),
        F.col("b").alias("k2"), F.col("n_ab").alias("n"),
        F.round("pmi", 6).alias("v1"),
        F.lit(None).cast("double").alias("v2"))
    mi_row = (cells.agg(
        F.max("n").alias("n"),
        F.round(F.sum(F.col("n_ab").cast("double") / F.col("n")
                      * F.col("pmi")), 6).alias("v1"))
        .crossJoin(F.broadcast(
            cramers_v(docs, "lang", "source")
            .select(F.round("v", 6).alias("v2"))))
        .select(F.lit("mi").alias("part"),
                F.lit("lang|source").alias("k1"),
                F.lit(None).cast("string").alias("k2"),
                "n", "v1", "v2"))
    from ..operators.textual import nb_language_classifier

    # nb_*: the learned NB classifier (one extra corpus tokenization;
    # the tf table and the test-fold predictions are persisted inside
    # the operator, so the five parts below share them)
    nb = nb_language_classifier(docs)
    pred, classes = nb["pred"], nb["classes"]
    _null_d = F.lit(None).cast("double")
    _null_s = F.lit(None).cast("string")
    hit = (F.col("pred_lbl") == F.col("true_lbl")).cast("long")
    nb_conf = (pred.groupBy("true_lbl", "pred_lbl")
               .agg(F.count(F.lit(1)).alias("n"))
               .select(F.lit("nb_conf").alias("part"),
                       F.col("true_lbl").alias("k1"),
                       F.col("pred_lbl").alias("k2"), "n",
                       _null_d.alias("v1"), _null_d.alias("v2")))
    nb_acc = (pred.agg(F.count(F.lit(1)).alias("n"),
                       F.sum(hit).alias("c"))
              .select(F.lit("nb_acc").alias("part"),
                      _null_s.alias("k1"), _null_s.alias("k2"), "n",
                      F.round(F.col("c") / F.col("n"), 4).alias("v1"),
                      F.col("c").cast("double").alias("v2")))
    by_true = (pred.groupBy(F.col("true_lbl").alias("lbl"))
               .agg(F.count(F.lit(1)).alias("n_act"),
                    F.sum(hit).alias("n_corr")))
    by_pred = (pred.groupBy(F.col("pred_lbl").alias("lbl"))
               .agg(F.count(F.lit(1)).alias("n_pred")))
    nb_cls = (classes.select("lbl")
              .join(by_true, "lbl", "left")
              .join(by_pred, "lbl", "left")
              .select(F.lit("nb_cls").alias("part"),
                      F.col("lbl").alias("k1"), _null_s.alias("k2"),
                      F.coalesce(F.col("n_act"), F.lit(0)).alias("n"),
                      F.round(F.when(F.col("n_pred") > 0,
                                     F.coalesce(F.col("n_corr"), F.lit(0))
                                     / F.col("n_pred")), 4).alias("v1"),
                      F.round(F.when(F.col("n_act") > 0,
                                     F.col("n_corr") / F.col("n_act")),
                              4).alias("v2")))
    nb_model = nb["model"].select(
        F.lit("nb_model").alias("part"), _null_s.alias("k1"),
        _null_s.alias("k2"), F.col("v").alias("n"),
        F.col("n_train_docs").cast("double").alias("v1"),
        F.col("n_train_tokens").cast("double").alias("v2"))
    nb_top = nb["top"].select(
        F.lit("nb_top").alias("part"), F.col("lbl").alias("k1"),
        F.col("token").alias("k2"), F.col("rank").cast("long").alias("n"),
        F.round(F.col("lo_micro") / F.lit(1e6), 6).alias("v1"),
        _null_d.alias("v2"))
    from ..operators.textual import dsir_importance_scores

    scores, model = dsir_importance_scores(
        docs, is_target=(F.col("lang") == "en"), n_buckets=_DSIR_B)
    dscored = scores.join(docs.select("doc_id", "source"), "doc_id")
    dsir_source = (dscored.groupBy("source")
                   .agg(F.count(F.lit(1)).alias("n"),
                        fround(F.avg("dsir_score")).alias("v1"))
                   .select(F.lit("dsir_source").alias("part"),
                           F.col("source").alias("k1"),
                           _null_s.alias("k2"), "n", "v1",
                           _null_d.alias("v2")))
    dsir_sel = (dscored.withColumn("rs", fround(F.col("dsir_score")))
                .orderBy(F.col("rs").desc(), F.col("doc_id"))
                .limit(_DSIR_K)
                .select(F.lit("dsir_sel").alias("part"),
                        F.col("source").alias("k1"),
                        F.col("doc_id").cast("string").alias("k2"),
                        F.col("n_grams").alias("n"),
                        F.col("rs").alias("v1"), _null_d.alias("v2")))
    dsir_bkt = (model.orderBy(F.col("rc").desc(), F.col("bkt"))
                .limit(10)
                .select(F.lit("dsir_bkt").alias("part"),
                        _null_s.alias("k1"),
                        F.col("bkt").cast("string").alias("k2"),
                        F.col("rc").alias("n"),
                        fround(F.col("lr")).alias("v1"),
                        _null_d.alias("v2")))
    return {"confusion": conf, "drift": drift, "mi_cells": mi_cells,
            "mi": mi_row, "nb_conf": nb_conf, "nb_acc": nb_acc,
            "nb_cls": nb_cls, "nb_model": nb_model, "nb_top": nb_top,
            "dsir_source": dsir_source, "dsir_sel": dsir_sel,
            "dsir_bkt": dsir_bkt}


_TEXT_METRICS_ORACLE = f"""
    WITH q AS (
      SELECT lang, source,
             (CASE WHEN length(text) BETWEEN 120 AND 20000 THEN 1.0 ELSE 0.0 END
              + GREATEST(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE)
                                     / CAST(length(text) AS DOUBLE)) * 5.0)
              + CASE WHEN {_duck_marker_score('en')} >= 2 THEN 1.0 ELSE 0.0 END
              + CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
                / CAST(length(text) AS DOUBLE)
             ) * 0.25 AS quality,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS ws_tokens,
             CAST(len(list_filter(
                 string_split_regex(lower(text), '[\\s\\.,;:!\\?\\(\\)\\[\\]\\{{\\}}"'']+'),
                 x -> x <> '')) AS DOUBLE) AS bpe_tokens,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             CASE WHEN len(string_split_regex(lower(text), '\\s+')) > 0
                  THEN 1.0 - len(list_distinct(string_split_regex(lower(text), '\\s+')))
                             / CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE)
                  ELSE 0.0 END AS repetition,
             len(regexp_extract_all(text, '__EMAIL__')) AS n_emails,
             len(regexp_extract_all(text, '__URL__')) AS n_urls,
             length(text) - length(
               regexp_replace(regexp_replace(text, '__EMAIL__', '<EMAIL>', 'g'),
                              '__URL__', '<URL>', 'g')) AS mask_delta
      FROM documents)
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT)   AS n_docs,
           ROUND(AVG(quality), 4)     AS avg_quality,
           ROUND(MIN(quality), 4)     AS min_quality,
           ROUND(MAX(quality), 4)     AS max_quality,
           ROUND(AVG(ws_tokens), 4)   AS avg_ws_tokens,
           ROUND(AVG(bpe_tokens), 4)  AS avg_bpe_ish_tokens,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fingerprints,
           ROUND(AVG(repetition), 4)  AS avg_repetition,
           CAST(SUM(n_emails) AS BIGINT) AS n_emails,
           CAST(SUM(n_urls) AS BIGINT)   AS n_urls,
           ROUND(AVG(CAST(mask_delta AS DOUBLE)), 4) AS avg_mask_delta
    FROM q
    GROUP BY 1, 2
"""

# Inject the shared PII regex constants (placeholders keep the f-string
# template free of regex braces). The Python strings hold single
# backslashes, which SQL single-quoted literals pass through to RE2
# verbatim — same convention as the '\\s+' escapes above.
from ..operators.textual import EMAIL_RE, URL_RE  # noqa: E402

_TEXT_METRICS_ORACLE = (_TEXT_METRICS_ORACLE
                        .replace("__EMAIL__", EMAIL_RE)
                        .replace("__URL__", URL_RE))


@register("q37_text_quality_token_metrics", oracle=_TEXT_METRICS_ORACLE,
          tags=("text", "quality", "tokens", "pii"))
def text_quality_token_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis metric suite in ONE scan (merged r1 q37+q38, plus
    the r2 training-data-prep metrics): composite quality score
    (length / punctuation / stopword / alpha-ratio terms), token
    counting (whitespace + BPE-ish punctuation-aware),
    rolling-fingerprint cardinality, token-repetition ratio
    (boilerplate signal), and the PII-masking audit trail (email/URL
    occurrence counts + average chars delta after masking, which pins
    ``mask_pii_expr`` output lengths exactly) — grouped per
    (lang, source).

    100 TB notes: every metric is a native regex/string expression over
    one documents scan feeding one hash aggregate; the fingerprint
    distinct rides the same shuffle as the group keys."""
    from ..operators.textual import (
        mask_pii_expr,
        pii_counts_expr,
        repetition_ratio_expr,
    )

    # fan_out: the quality/token/PII expressions are the per-byte
    # heaviest scan stage in the suite; a single-row-group documents
    # file would otherwise run them in ONE task (io.scan_fanout;
    # measured 1.52s -> 0.91s at sf0.1, parallelism 2 -> 32 at sf1)
    # Arrow-vectorized python passes win from fan-out even on tiny
    # inputs (r7 A/B: 1.1s -> 0.8s at sf0.1) - bypass the size gate
    docs = load_table(spark, sf_dir, "documents", fan_out=True,
                      fan_out_min_bytes=0)
    q = quality_score_expr(F.col("text"))
    n_emails, n_urls = pii_counts_expr(F.col("text"))
    mask_delta = (F.length("text")
                  - F.length(mask_pii_expr(F.col("text")))).cast("double")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fround(F.avg(q)).alias("avg_quality"),
            fround(F.min(q)).alias("min_quality"),
            fround(F.max(q)).alias("max_quality"),
            fround(F.avg(token_count_expr(F.col("text")).cast("double")))
             .alias("avg_ws_tokens"),
            fround(F.avg(bpe_ish_token_count_expr(F.col("text")).cast("double")))
             .alias("avg_bpe_ish_tokens"),
            F.countDistinct(fingerprint_expr(F.col("text")))
             .alias("n_fingerprints"),
            fround(F.avg(repetition_ratio_expr(F.col("text"))))
             .alias("avg_repetition"),
            F.sum(n_emails).alias("n_emails"),
            F.sum(n_urls).alias("n_urls"),
            fround(F.avg(mask_delta)).alias("avg_mask_delta"),
        )
    )

@register(
    "q39_multimodal_binary_columns",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes,
           -- Spark side digests the binary payload with sha2; DuckDB's
           -- sha256 is VARCHAR-only, but utf-8 encoding is injective so
           -- distinct-text count equals distinct-payload-digest count.
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_payloads
    FROM documents
    GROUP BY lang
    """,
    tags=("multimodal", "binary"),
)
def multimodal_binary_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary-payload plumbing (the multimodal column pattern):
    text → binary payload + typed metadata (byte size, content digest).
    The decode stage for real image/audio payloads is a mapInPandas
    stub (operators.multimodal); the schema/partition mechanics here
    are the real, tested part."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(payload)).alias("total_bytes"),
            F.max(F.length(payload)).cast("long").alias("max_bytes"),
            F.countDistinct(F.sha2(payload, 256)).alias("n_distinct_payloads"),
        )
    )


@register(
    "q49_multimodal_feature_extract",
    oracle="""
    WITH stub AS (
      SELECT 'stub' AS part, lang AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_assets,
             CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
             CAST(MAX(GREATEST(1,
                  CAST(floor(sqrt(octet_length(encode(text))))
                       AS INTEGER))) AS DOUBLE) AS m1,
             CAST(256 * COUNT(*) AS DOUBLE) AS m2,
             CAST(SUM(LEAST(4, CAST(ceil(GREATEST(1,
                    ceil(octet_length(encode(text)) / 512.0)) / 2.0)
                  AS INTEGER))) AS DOUBLE) AS m3,
             1.0 AS m4,
             1.0 AS m5
      FROM documents GROUP BY lang),
    ids AS (
      SELECT doc_id,
             4 + doc_id % 13 AS w,
             3 + doc_id % 7 AS h,
             5 + doc_id % 11 AS pw,
             2 + doc_id % 6 AS ph,
             10 + doc_id % 50 AS ns
      FROM documents WHERE doc_id < 200),
    bmp AS (
      SELECT 'bmp_native' AS part, 'all' AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_assets,
             CAST(COUNT(DISTINCT w * 7 + h) AS BIGINT) AS n_distinct,
             CAST(SUM(w) AS DOUBLE) AS m1,
             CAST(SUM(h) AS DOUBLE) AS m2,
             ROUND(SUM((CAST(w * h AS DOUBLE) - 1.0) / 2.0), 4) AS m3,
             ROUND(SUM(sqrt((CAST(w * h AS DOUBLE) * (w * h) - 1.0)
                            / 12.0)), 4) AS m4,
             0.0 AS m5
      FROM ids),
    png AS (
      SELECT 'png_native' AS part, 'all' AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_assets,
             CAST(COUNT(DISTINCT pw * 8 + ph) AS BIGINT) AS n_distinct,
             CAST(SUM(pw) AS DOUBLE) AS m1,
             CAST(SUM(ph) AS DOUBLE) AS m2,
             ROUND(SUM((CAST(pw * ph AS DOUBLE) - 1.0) / 2.0), 4) AS m3,
             ROUND(SUM(sqrt((CAST(pw * ph AS DOUBLE) * (pw * ph) - 1.0)
                            / 12.0)), 4) AS m4,
             0.0 AS m5
      FROM ids),
    -- r5: baseline-JPEG real decode. The fixtures are grids of
    -- constant 8x8 tiles with EVEN values: the Annex-K table has
    -- q[0,0]=16, so the DC coefficient 8*(v-128) quantizes exactly and
    -- all ACs are 0 -> the LOSSY codec's decode is closed-form here.
    jids AS (
      SELECT doc_id, 8 * (1 + doc_id % 4) AS w, 8 * (1 + doc_id % 3) AS h,
             (1 + doc_id % 4) * (1 + doc_id % 3) AS nb
      FROM documents WHERE doc_id < 200),
    jtiles AS (
      SELECT j.doc_id, 2 * ((7 * j.doc_id + 13 * t.b) % 96) + 32 AS v
      FROM jids j,
           LATERAL (SELECT unnest(generate_series(0, j.nb - 1)) AS b) t),
    jstats AS (
      SELECT doc_id, AVG(v) AS m, sqrt(AVG(v * v) - AVG(v) * AVG(v)) AS s
      FROM jtiles GROUP BY doc_id),
    jpg AS (
      SELECT 'jpeg_native' AS part, 'all' AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_assets,
             -- payload is a function of doc_id % 96 (7 coprime to 96;
             -- 4 and 3 divide 96), and injective in it via tile 0
             CAST((SELECT COUNT(DISTINCT doc_id % 96) FROM jids)
                  AS BIGINT) AS n_distinct,
             CAST(SUM(j.w) AS DOUBLE) AS m1,
             CAST(SUM(j.h) AS DOUBLE) AS m2,
             ROUND(SUM(st.m), 4) AS m3,
             ROUND(SUM(st.s), 4) AS m4,
             0.0 AS m5
      FROM jids j JOIN jstats st USING (doc_id)),
    -- r5 session 5: REAL nearest-neighbor resize of the BMP fixtures
    -- to 8x8 (operators.multimodal.resize_images_native): source
    -- index sy = y*h//8, sx = x*w//8, so the resampled ramp pixels
    -- are closed-form and the resized image's mean/std re-derive here
    rsum AS (
      SELECT i.doc_id,
             (SELECT SUM(((y.y * i.h // 8) * i.w + (x.x * i.w // 8))
                         % 256)
              FROM (SELECT unnest(generate_series(0, 7)) AS y) y,
                   (SELECT unnest(generate_series(0, 7)) AS x) x)
               AS px_sum,
             (SELECT SUM(POWER(((y.y * i.h // 8) * i.w
                                + (x.x * i.w // 8)) % 256, 2))
              FROM (SELECT unnest(generate_series(0, 7)) AS y) y,
                   (SELECT unnest(generate_series(0, 7)) AS x) x)
               AS px_sq
      FROM ids i),
    rsz AS (
      SELECT 'resize_native' AS part, 'all' AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_assets,
             CAST(COUNT(DISTINCT px_sum) AS BIGINT) AS n_distinct,
             CAST(SUM(8) AS DOUBLE) AS m1,
             CAST(SUM(8) AS DOUBLE) AS m2,
             ROUND(SUM(px_sum / 64.0), 4) AS m3,
             ROUND(SUM(sqrt(px_sq / 64.0
                            - (px_sum / 64.0) * (px_sum / 64.0))), 4)
               AS m4,
             0.0 AS m5
      FROM rsum),
    -- r5 session 5: REAL per-frame audio features over the WAV ramps
    -- (operators.multimodal.audio_frame_features, 16-sample frames,
    -- trailing partial kept): frame RMS/peak re-derived by summing
    -- the ramp squares over a generate_series grid
    aframes AS (
      SELECT i.doc_id, f.f AS frame_idx,
             LEAST(16 * (f.f + 1), i.ns) - 16 * f.f AS nif,
             LEAST(16 * (f.f + 1), i.ns) - 1 AS peak,
             (SELECT SUM(POWER(s.s, 2))
              FROM (SELECT unnest(generate_series(16 * f.f,
                       LEAST(16 * (f.f + 1), i.ns) - 1)) AS s) s) AS sq
      FROM ids i,
           LATERAL (SELECT unnest(generate_series(0,
                      CAST(ceil(i.ns / 16.0) AS INTEGER) - 1)) AS f) f),
    audio AS (
      SELECT 'audio_frames' AS part, 'all' AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_assets,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
             CAST(SUM(nif) AS DOUBLE) AS m1,
             ROUND(SUM(sqrt(sq * 1.0 / nif)), 4) AS m2,
             CAST(SUM(peak) AS DOUBLE) AS m3,
             CAST(MAX(frame_idx) AS DOUBLE) AS m4,
             0.0 AS m5
      FROM aframes),
    wav AS (
      SELECT 'wav_native' AS part, 'all' AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_assets,
             CAST(COUNT(DISTINCT ns) AS BIGINT) AS n_distinct,
             CAST(SUM(1) AS DOUBLE) AS m1,
             CAST(AVG(8000.0) AS DOUBLE) AS m2,
             ROUND(SUM(CAST(ns AS DOUBLE) / 8000.0), 4) AS m3,
             ROUND(SUM((CAST(ns AS DOUBLE) - 1.0) / 2.0), 4) AS m4,
             ROUND(SUM(sqrt((CAST(ns AS DOUBLE) * ns - 1.0) / 12.0)), 4)
               AS m5
      FROM ids)
    SELECT * FROM stub
    UNION ALL SELECT * FROM bmp
    UNION ALL SELECT * FROM png
    UNION ALL SELECT * FROM jpg
    UNION ALL SELECT * FROM rsz
    UNION ALL SELECT * FROM audio
    UNION ALL SELECT * FROM wav
    -- r6 (VERDICT r5 #5): pHash driver row. The BMP fixtures are pure
    -- functions of doc_id (ramp pixels over 91 distinct geometries
    -- among ids 0..199), so the 200 perceptual hashes are
    -- SCALE-INVARIANT and one unkeyed pinned literal suffices.
    -- r8 re-pin: phash64 is now EXACT integer arithmetic end-to-end
    -- (codecs._phash_dct_q) after the float DCT was caught emitting
    -- BLAS-kernel-dependent bits (driver-sim hash mismatch at r8 HEAD
    -- on unchanged code). The ramp fixtures are perfect planes
    -- (w*h <= 144 < 256, pixel = w*y + x), so the interior 7x7 DCT
    -- corner is exactly zero and the old popcounts ~27-31 were float
    -- noise on exact zeros — unpinnable by construction. Exact
    -- values: 63 distinct hashes (planes collide more than noise
    -- did); popcount sum 931 (min 0 / max 10 per hash — 63-bit
    -- construction, sign clear); hash pmod-10007 sum 821241; 6081
    -- Hamming<=3 pairs, still an EXACT count because the 4x16-bit
    -- chunk LSH is pigeonhole-COMPLETE at threshold 3.
    UNION ALL SELECT 'phash' AS part, 'all' AS grp,
       CAST(200 AS BIGINT) AS n_assets, CAST(63 AS BIGINT) AS n_distinct,
       CAST(931 AS DOUBLE) AS m1, CAST(821241 AS DOUBLE) AS m2,
       CAST(6081 AS DOUBLE) AS m3, CAST(0 AS DOUBLE) AS m4,
       CAST(10 AS DOUBLE) AS m5
    """,
    tags=("multimodal", "pandas-udf", "codec", "phash"),
    parts=("stub", "bmp_native", "png_native", "jpeg_native",
           "resize_native", "audio_frames", "wav_native", "phash"),
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched multimodal pipeline over binary assets
    (operators.multimodal via mapInPandas), three oracle-checked parts:

    ``part='stub'`` (per lang): decode/feature-extract, resize
    (one-out-per-in) and frame-sample (explode-shaped fan-out) under
    the FORCED deterministic stub codec, so every hashed column is a
    pure function of the payload bytes the oracle re-derives
    relationally — asset counts, distinct sha2 digests (utf-8 encode
    is injective), stub geometry (width = ⌊√bytes⌋, min 1), resize
    volume (16×16 → 256 bytes/asset), frame fan-out
    (min(4, ⌈⌈bytes/512⌉/2⌉)/asset), byte-stat band checks.

    ``part='bmp_native'`` / ``'png_native'`` / ``'jpeg_native'`` /
    ``'wav_native'``: a REAL decode under the vendored pure-numpy
    codecs (operators.codecs — VERDICT r3 #1; PNG added r5 per VERDICT
    r4 #4, stdlib-zlib chunk/filter grammar; baseline JPEG added r5
    BEYOND the verdict list — full T.81 marker/Huffman/DCT pipeline —
    with magic-byte dispatch). The JPEG fixtures are constant-8×8-tile
    grids with even values, making the LOSSY decode oracle-exact (DC
    8·(v−128) is a multiple of q[0,0]=16, all ACs zero) while the
    varying tiles still drive the DC-difference Huffman path; the
    gradient/noise/color lossy paths are pinned in
    tests/test_multimodal.py instead.
    Deterministic true-format payloads (24-bit BMP: width=4+id%13,
    height=3+id%7, ramp pixels; grayscale-8 PNG: width=5+id%11,
    height=2+id%6, ramp pixels; PCM-16 WAV: 10+id%50 ramp samples at
    8 kHz) are synthesized for doc_id < 200, parsed by the real
    BMP/PNG/RIFF parsers, and the oracle re-derives the decoded
    width/height/duration/sample statistics CLOSED-FORM from doc_id
    (ramp of n values: mean=(n-1)/2, std=√((n²-1)/12) — bit-exact,
    pinned by tests/test_multimodal.py). The query filters on the
    per-row ``codec`` column == 'native', so a stub fallback would
    zero these parts and hash-mismatch: codec != 'stub' is asserted
    IN the checked result, not trusted from the seam.

    ``part='phash'`` — r6 (VERDICT r5 #5): perceptual image hashes
    (operators.codecs.phash64 via multimodal.phash_assets) over the
    same BMP fixtures, plus the image near-dup pair count through
    dedup.neardup_pairs_hamming64 (max_hamming=3 — the pigeonhole-
    complete regime for the 4x16-bit chunk LSH, so the count is
    exact). The hashes are pure functions of doc_id, so the oracle
    row is ONE scale-invariant pinned literal."""
    from ..operators.multimodal import (
        audio_frame_features,
        extract_features,
        extract_media_features,
        resize_images,
        resize_images_native,
        sample_frames,
        synthesize_bmp_assets,
        synthesize_jpeg_assets,
        synthesize_png_assets,
        synthesize_wav_assets,
        text_as_asset,
    )

    docs = load_table(spark, sf_dir, "documents")
    assets = text_as_asset(docs)
    feats = extract_features(assets, codec="stub")
    lang = docs.select("doc_id", "lang")
    joined = feats.join(lang, "doc_id")
    base = (joined.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_assets"),
                 F.countDistinct("digest").alias("n_distinct"),
                 F.avg("feat_mean").alias("avg_feat_mean"),
                 F.avg("feat_std").alias("avg_feat_std"),
                 F.max("width").alias("max_width")))
    resized = (resize_images(assets, width=16, height=16).join(lang, "doc_id")
               .groupBy("lang")
               .agg(F.sum("n_bytes").alias("resized_bytes")))
    frames = (sample_frames(assets, frame_bytes=512, every_n=2,
                            max_frames=4).join(lang, "doc_id")
              .groupBy("lang")
              .agg(F.count(F.lit(1)).alias("n_frames")))
    stub_part = (
        base.join(resized, "lang").join(frames, "lang")
        .select(F.lit("stub").alias("part"), F.col("lang").alias("grp"),
                "n_assets", "n_distinct",
                F.col("max_width").cast("double").alias("m1"),
                F.col("resized_bytes").cast("double").alias("m2"),
                F.col("n_frames").cast("double").alias("m3"),
                F.when(F.col("avg_feat_mean").between(32.0, 200.0), 1.0)
                 .otherwise(0.0).alias("m4"),
                F.when(F.col("avg_feat_std").between(1.0, 128.0), 1.0)
                 .otherwise(0.0).alias("m5")))

    media_docs = docs.filter(F.col("doc_id") < 200).select("doc_id")
    media_assets = (synthesize_bmp_assets(media_docs)
                    .unionByName(synthesize_wav_assets(media_docs)))
    media = (extract_media_features(media_assets, codec="native")
             # real-decode assertion: only rows the native parser
             # actually produced count; a stub fallback zeroes the part
             .filter(F.col("codec") == "native"))
    bmp_part = (
        media.filter(F.col("modality") == "image").groupBy()
        .agg(F.count(F.lit(1)).alias("n_assets"),
             F.countDistinct("digest").alias("n_distinct"),
             F.sum("width").cast("double").alias("m1"),
             F.sum("height").cast("double").alias("m2"),
             fround(F.sum("feat_mean")).alias("m3"),
             fround(F.sum("feat_std")).alias("m4"))
        .select(F.lit("bmp_native").alias("part"), F.lit("all").alias("grp"),
                "n_assets", "n_distinct", "m1", "m2", "m3", "m4",
                F.lit(0.0).alias("m5")))
    png_media = (extract_media_features(synthesize_png_assets(media_docs),
                                        codec="native")
                 .filter(F.col("codec") == "native"))
    png_part = (
        png_media.groupBy()
        .agg(F.count(F.lit(1)).alias("n_assets"),
             F.countDistinct("digest").alias("n_distinct"),
             F.sum("width").cast("double").alias("m1"),
             F.sum("height").cast("double").alias("m2"),
             fround(F.sum("feat_mean")).alias("m3"),
             fround(F.sum("feat_std")).alias("m4"))
        .select(F.lit("png_native").alias("part"), F.lit("all").alias("grp"),
                "n_assets", "n_distinct", "m1", "m2", "m3", "m4",
                F.lit(0.0).alias("m5")))
    jpg_media = (extract_media_features(synthesize_jpeg_assets(media_docs),
                                        codec="native")
                 .filter(F.col("codec") == "native"))
    jpeg_part = (
        jpg_media.groupBy()
        .agg(F.count(F.lit(1)).alias("n_assets"),
             F.countDistinct("digest").alias("n_distinct"),
             F.sum("width").cast("double").alias("m1"),
             F.sum("height").cast("double").alias("m2"),
             fround(F.sum("feat_mean")).alias("m3"),
             fround(F.sum("feat_std")).alias("m4"))
        .select(F.lit("jpeg_native").alias("part"), F.lit("all").alias("grp"),
                "n_assets", "n_distinct", "m1", "m2", "m3", "m4",
                F.lit(0.0).alias("m5")))
    resize_part = (
        resize_images_native(synthesize_bmp_assets(media_docs),
                             width=8, height=8)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_assets"),
             F.countDistinct(F.round(F.col("feat_mean") * 64, 0)
                             .cast("long")).alias("n_distinct"),
             F.sum("width").cast("double").alias("m1"),
             F.sum("height").cast("double").alias("m2"),
             fround(F.sum("feat_mean")).alias("m3"),
             fround(F.sum("feat_std")).alias("m4"))
        .select(F.lit("resize_native").alias("part"),
                F.lit("all").alias("grp"),
                "n_assets", "n_distinct", "m1", "m2", "m3", "m4",
                F.lit(0.0).alias("m5")))
    audio_part = (
        audio_frame_features(synthesize_wav_assets(media_docs),
                             frame_len=16)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_assets"),
             F.countDistinct("doc_id").alias("n_distinct"),
             F.sum("n_in_frame").cast("double").alias("m1"),
             fround(F.sum("rms")).alias("m2"),
             F.sum("peak").cast("double").alias("m3"),
             F.max("frame_idx").cast("double").alias("m4"))
        .select(F.lit("audio_frames").alias("part"),
                F.lit("all").alias("grp"),
                "n_assets", "n_distinct", "m1", "m2", "m3", "m4",
                F.lit(0.0).alias("m5")))
    wav_part = (
        media.filter(F.col("modality") == "audio").groupBy()
        .agg(F.count(F.lit(1)).alias("n_assets"),
             F.countDistinct("digest").alias("n_distinct"),
             F.sum("n_channels").cast("double").alias("m1"),
             F.avg("sample_rate").alias("m2"),
             fround(F.sum("duration")).alias("m3"),
             fround(F.sum("feat_mean")).alias("m4"),
             fround(F.sum("feat_std")).alias("m5"))
        .select(F.lit("wav_native").alias("part"), F.lit("all").alias("grp"),
                "n_assets", "n_distinct", "m1", "m2", "m3", "m4", "m5"))
    from ..operators.dedup import neardup_pairs_hamming64
    from ..operators.multimodal import phash_assets

    # phash: perceptual hashes over the BMP fixtures + the image
    # near-dup pair count through the SAME chunk-LSH Hamming join the
    # SimHash path uses (max_hamming=3: pigeonhole-complete for 4
    # 16-bit chunks, so the count is exact). Hashes are a pure
    # function of doc_id — the oracle row is one scale-invariant
    # pinned literal (see the SQL comment).
    ph_sigs = phash_assets(synthesize_bmp_assets(media_docs))
    ph_pairs = (neardup_pairs_hamming64(ph_sigs, "doc_id", "phash",
                                        max_hamming=3)
                .groupBy()
                .agg(F.count(F.lit(1)).cast("double").alias("m3")))
    phash_part = (
        ph_sigs.groupBy()
        .agg(F.count(F.lit(1)).alias("n_assets"),
             F.countDistinct("phash").alias("n_distinct"),
             F.sum(F.bit_count("phash")).cast("double").alias("m1"),
             F.sum(F.pmod(F.col("phash"), F.lit(10007)))
              .cast("double").alias("m2"),
             F.min(F.bit_count("phash")).cast("double").alias("m4"),
             F.max(F.bit_count("phash")).cast("double").alias("m5"))
        .crossJoin(ph_pairs)  # 1-row x 1-row aggregate attach
        .select(F.lit("phash").alias("part"), F.lit("all").alias("grp"),
                "n_assets", "n_distinct", "m1", "m2", "m3", "m4", "m5"))
    return (stub_part.unionByName(bmp_part).unionByName(png_part)
            .unionByName(jpeg_part).unionByName(resize_part)
            .unionByName(audio_part).unionByName(wav_part)
            .unionByName(phash_part))


# BM25 retrieval queries (q61 `bm25` part) — fixed term sets over the
# corpus vocabulary; one tuple per query, mirrored into the oracle's
# VALUES list below.
_BM25_QUERIES: list[tuple[str, list[str]]] = [
    ("joins", ["join", "hash", "merge"]),
    ("streaming", ["stream", "window", "watermark"]),
    ("vectorized", ["vector", "batch", "codegen"]),
]
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 5
_BM25_QUERY_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, terms in _BM25_QUERIES for t in terms)

# q61 `phrase` part: exact consecutive-token phrases over the
# positional index (operators.textual.phrase_search) — the oracle leg
# is GENERATED per phrase from this same list
_PHRASE_QUERIES: list[tuple[str, list[str]]] = [
    ("p2", ["table", "hash"]),
    ("p3", ["slow", "hash", "batch"]),
]

# q61 `bpe` part (r6, VERDICT r5 #5): pinned merge tables for
# operators.textual.bpe_learn_merges over documents doc_id < 500
# (n_merges=8). BPE's data-dependent iterative argmax is not
# SQL-expressible, so the oracle pins the merge list an INDEPENDENT
# pure-Python Sennrich BPE (tests/test_textual.py::_bpe_ref, same
# tokenizer contract: lower → split on [ \\t\\n\\r\\f]+ → drop empties,
# tie-break count desc then pair lexicographic) emits at each driver
# scale — keyed on lineitem cardinality exactly like q42's
# pinned-recall contract (documents count can't key: sf0.001 and
# sf0.01 both ship 500 docs). tuple = (lineitem_count, step, merged,
# pair_weight).
_BPE_PINNED: list[tuple[int, int, str, int]] = [
    (6000, 1, "er", 4650), (6000, 2, "or", 2880),
    (6000, 3, "in", 2858), (6000, 4, "ow", 2763),
    (6000, 5, "st", 2721), (6000, 6, "lu", 1928),
    (6000, 7, "ar", 1873), (6000, 8, "par", 1873),
    (60000, 1, "er", 4568), (60000, 2, "in", 2760),
    (60000, 3, "ow", 2747), (60000, 4, "or", 2696),
    (60000, 5, "st", 2676), (60000, 6, "mer", 1852),
    (60000, 7, "at", 1845), (60000, 8, "lu", 1831),
    (600000, 1, "er", 4642), (600000, 2, "in", 2820),
    (600000, 3, "st", 2779), (600000, 4, "ow", 2752),
    (600000, 5, "or", 2747), (600000, 6, "al", 1889),
    (600000, 7, "ta", 1852), (600000, 8, "mer", 1805),
]
_BPE_PINNED_VALUES = ", ".join(
    f"({card}, {step}, '{merged}', {pw})"
    for card, step, merged, pw in _BPE_PINNED)


def _phrase_oracle_legs() -> str:
    legs = []
    for pid, terms in _PHRASE_QUERIES:
        k = len(terms)
        conds = " AND ".join(f"w[i + {j}] = '{terms[j]}'"
                             for j in range(k))
        legs.append(f"""
      SELECT '{pid}' AS phrase_id, doc_id,
             CAST(len([i for i in range(1, len(w) - {k} + 2)
                       if {conds}]) AS BIGINT) AS n_matches
      FROM (SELECT doc_id,
                   string_split_regex(lower(text), '\\s+') AS w
            FROM documents)
      WHERE len([i for i in range(1, len(w) - {k} + 2)
                 if {conds}]) > 0""")
    return " UNION ALL ".join(legs)


def _mmr_ctes(k: int, pool_k: int = 10) -> str:
    """Unrolled MMR greedy-selection CTEs for the q61 oracle
    (operators.textual.mmr_select's contract): candidate pool = the
    coordination top-``pool_k`` (cranked), pairwise similarity =
    exact 3-word-shingle Jaccard among pool members, then ``k``
    unrolled selection steps, each a ROW_NUMBER argmax of
    0.7·rel − 0.3·max-sim-to-selected with min-doc_id ties. 0.7 and
    0.3 are SEPARATE literals in engine and oracle (IEEE 1−0.7 ≠
    0.3), so every step's score is the same double on both sides."""
    out = [f"""mpool AS MATERIALIZED (
      SELECT query_id, doc_id, CAST(match_tf AS DOUBLE) AS rel
      FROM cranked WHERE rnk <= {pool_k}),
    mw AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
      FROM documents
      WHERE doc_id IN (SELECT doc_id FROM mpool)),
    msh AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(
                    [concat_ws(' ', w[i], w[i+1], w[i+2])
                     for i in generate_series(1, len(w) - 2)])
                  ELSE [] END AS s
      FROM mw),
    msims AS (
      SELECT p.query_id, p.doc_a, p.doc_b,
             CASE WHEN len(a.s) + len(b.s)
                       - len(list_intersect(a.s, b.s)) = 0 THEN 0.0
                  ELSE len(list_intersect(a.s, b.s)) * 1.0
                       / (len(a.s) + len(b.s)
                          - len(list_intersect(a.s, b.s))) END AS sim
      FROM (SELECT x.query_id, x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM mpool x JOIN mpool y
              ON x.query_id = y.query_id AND x.doc_id < y.doc_id) p
      JOIN msh a ON a.doc_id = p.doc_a
      JOIN msh b ON b.doc_id = p.doc_b),
    msym AS MATERIALIZED (
      SELECT query_id, doc_a AS x, doc_b AS y, sim FROM msims
      UNION ALL
      SELECT query_id, doc_b, doc_a, sim FROM msims),
    m1 AS MATERIALIZED (
      SELECT query_id, doc_id, 0.7 * rel AS score, 1 AS step
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, doc_id)
                        AS rn
            FROM mpool)
      WHERE rn = 1),
    msel1 AS (SELECT query_id, doc_id FROM m1)"""]
    for i in range(2, k + 1):
        out.append(f"""m{i} AS MATERIALIZED (
      SELECT query_id, doc_id, score, {i} AS step FROM (
        SELECT c.query_id, c.doc_id,
               0.7 * c.rel - 0.3 * COALESCE(x.ms, 0.0) AS score,
               ROW_NUMBER() OVER (
                 PARTITION BY c.query_id
                 ORDER BY 0.7 * c.rel - 0.3 * COALESCE(x.ms, 0.0)
                            DESC,
                          c.doc_id) AS rn
        FROM mpool c
        LEFT JOIN (SELECT m.query_id, m.x AS doc_id,
                          MAX(m.sim) AS ms
                   FROM msym m JOIN msel{i - 1} s
                     ON m.query_id = s.query_id AND m.y = s.doc_id
                   GROUP BY 1, 2) x
          ON x.query_id = c.query_id AND x.doc_id = c.doc_id
        WHERE NOT EXISTS (SELECT 1 FROM msel{i - 1} s
                          WHERE s.query_id = c.query_id
                            AND s.doc_id = c.doc_id))
      WHERE rn = 1),
    msel{i} AS (SELECT query_id, doc_id FROM msel{i - 1}
                UNION ALL SELECT query_id, doc_id FROM m{i})""")
    out.append("mall AS (" + " UNION ALL ".join(
        f"SELECT * FROM m{i}" for i in range(1, k + 1)) + ")")
    return ",\n    ".join(out)


_Q61_BASE_CTES = f"""tokens AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
      FROM documents),
    toks AS (SELECT * FROM tokens WHERE length(term) >= 2),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4)
               AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rnk
      FROM scored WHERE doc_id < 20),
    -- r5 session 4: BM25 ranked retrieval over the same token stream
    -- (operators.textual.bm25_topk) — Robertson/Lucene idf, k1/b as
    -- Python literals repr()'d on the engine side, rank on the
    -- ROUNDED score so the ordering is cross-engine deterministic
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM toks GROUP BY 1),
    bstats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    q(query_id, term) AS (VALUES {_BM25_QUERY_VALUES}),
    bscored AS (
      SELECT q.query_id, tf.doc_id,
             ANY_VALUE(dl.dl) AS doc_len,
             CAST(COUNT(*) AS BIGINT) AS n_matched,
             ROUND(SUM(
               ln(1.0 + (bstats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl / bstats.avgdl))), 4) AS score
      FROM tf JOIN q USING (term) JOIN df USING (term)
              JOIN dl USING (doc_id) CROSS JOIN bstats
      GROUP BY 1, 2),
    branked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS rnk
      FROM bscored),
    -- r5 session 5: reciprocal-rank fusion of the BM25 ranking with
    -- the coordination-tf ranking (operators.relational.rrf_fuse +
    -- operators.textual.term_match_topk) — truncated-list RRF, k0=60
    coord AS (
      SELECT q.query_id, tf.doc_id, SUM(tf.tf) AS match_tf
      FROM tf JOIN q USING (term) GROUP BY 1, 2),
    cranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY match_tf DESC, doc_id)
             AS rnk
      FROM coord),
    runion AS (
      SELECT query_id, doc_id, rnk FROM branked WHERE rnk <= {_BM25_K}
      UNION ALL
      SELECT query_id, doc_id, rnk FROM cranked WHERE rnk <= {_BM25_K}),
    rrf AS (
      SELECT query_id, doc_id, SUM(1.0 / (60 + rnk)) AS score,
             CAST(COUNT(*) AS BIGINT) AS ns
      FROM runion GROUP BY 1, 2),
    rrfranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY ROUND(score, 6) DESC,
                                            doc_id) AS rnk
      FROM rrf)"""


@register(
    "q61_tfidf_top_terms",
    oracle=f"""
    WITH {_Q61_BASE_CTES}
    SELECT 'tfidf' AS part, doc_id, term, tf, df, tfidf AS v,
           CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    UNION ALL
    SELECT 'bm25', doc_id, query_id, doc_len, n_matched, score,
           CAST(rnk AS INTEGER)
    FROM branked WHERE rnk <= {_BM25_K}
    UNION ALL
    SELECT 'rrf', doc_id, query_id, ns, NULL, ROUND(score, 6),
           CAST(rnk AS INTEGER)
    FROM rrfranked WHERE rnk <= {_BM25_K}
    UNION ALL
    -- r5 session 5: exact phrase occurrences per doc
    -- (operators.textual.phrase_search) — consecutive-token windows
    -- re-enumerated per phrase from the same token arrays
    SELECT 'phrase', doc_id, phrase_id, n_matches, NULL, NULL, NULL
    FROM ({_phrase_oracle_legs()})
    UNION ALL
    -- r6 (VERDICT r5 #5): learned BPE merges, pinned per scale (see
    -- _BPE_PINNED) and keyed on lineitem cardinality like q42
    SELECT 'bpe', CAST(step AS BIGINT), merged, CAST(pw AS BIGINT),
           NULL, NULL, CAST(step AS INTEGER)
    FROM (SELECT * FROM (VALUES {_BPE_PINNED_VALUES})
          t(card, step, merged, pw)
          WHERE card = (SELECT COUNT(*) FROM lineitem))
    """,
    tags=("text", "tfidf", "bm25", "retrieval", "rrf", "phrase",
          "bpe"),
    parts=("tfidf", "bm25", "rrf", "phrase", "bpe"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-relevance scoring, HEADLINE slot: TF-IDF top terms, BM25
    ranked retrieval, reciprocal-rank fusion, exact phrase search and
    BPE merge learning over one shared persisted inverted index — the
    slot's cost and hash risk track its headline retrieval operators.
    Leg construction and design notes live in
    :func:`_retrieval_suite_legs`; the evaluation/diversity legs
    (nDCG, max-grade recall, MMR re-ranking) live in
    ``q17_retrieval_extras`` (r8 session 2 de-overload — the VERDICT
    r7 #5 pattern; renamed q79→q17 in the r10 prefix rotation)."""
    legs = _retrieval_suite_legs(spark, sf_dir)
    out = legs["tfidf"]
    for t in ("bm25", "rrf", "phrase", "bpe"):
        out = out.unionByName(legs[t])
    return out


@register(
    "q17_retrieval_extras",
    oracle=f"""
    WITH {_Q61_BASE_CTES},
    -- r7 session 3: MMR diversity re-ranking over the coordination
    -- top-10 pool (operators.textual.mmr_select) — 5 unrolled greedy
    -- steps, exact shingle-Jaccard redundancy penalty
    {_mmr_ctes(5)}
    SELECT 'mmr' AS part, doc_id, query_id AS term,
           CAST(step AS BIGINT) AS tf, NULL AS df,
           ROUND(score, 6) AS v, CAST(step AS INTEGER) AS rnk
    FROM mall
    UNION ALL
    -- r7: nDCG@5 + max-grade recall@5 of the BM25 ranking itself
    -- (operators.textual.retrieval_eval): graded rel = matched query
    -- terms, exponential (1<<rel)-1 gains (integer shift, no libm
    -- pow), ideal re-ranked (rel DESC, doc_id) over ALL candidates
    SELECT 'ndcg', NULL, e.query_id, NULL, NULL,
           ROUND(e.dcg / e.idcg, 4), NULL
    FROM (
      WITH cand AS (
        SELECT q.query_id, tf.doc_id, CAST(COUNT(*) AS BIGINT) AS rel
        FROM tf JOIN q USING (term) GROUP BY 1, 2),
      idcg AS (
        SELECT query_id,
               SUM(((1 << rel) - 1) * 1.0 / log2(irnk + 1.0)) AS idcg
        FROM (SELECT query_id, rel,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY rel DESC, doc_id)
                       AS irnk
              FROM cand)
        WHERE irnk <= 5 GROUP BY 1),
      dcg AS (
        SELECT query_id,
               SUM(((1 << n_matched) - 1) * 1.0 / log2(rnk + 1.0))
                 AS dcg
        FROM branked WHERE rnk <= 5 GROUP BY 1)
      SELECT d.query_id, d.dcg, i.idcg
      FROM dcg d JOIN idcg i USING (query_id)) e
    UNION ALL
    SELECT 'recall5', NULL, r.query_id, r.n_rel, COALESCE(h.n_hit, 0),
           ROUND(COALESCE(h.n_hit, 0) * 1.0 / r.n_rel, 4), NULL
    FROM (
      WITH cand AS (
        SELECT q.query_id, tf.doc_id, CAST(COUNT(*) AS BIGINT) AS rel
        FROM tf JOIN q USING (term) GROUP BY 1, 2),
      mx AS (SELECT query_id, MAX(rel) AS mx FROM cand GROUP BY 1)
      SELECT c.query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
      FROM cand c JOIN mx USING (query_id)
      WHERE c.rel = mx.mx GROUP BY 1) r
    LEFT JOIN (
      WITH cand AS (
        SELECT q.query_id, tf.doc_id, CAST(COUNT(*) AS BIGINT) AS rel
        FROM tf JOIN q USING (term) GROUP BY 1, 2),
      mx AS (SELECT query_id, MAX(rel) AS mx FROM cand GROUP BY 1)
      SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM branked b JOIN mx USING (query_id)
      WHERE b.rnk <= 5 AND b.n_matched = mx.mx GROUP BY 1) h
      ON r.query_id = h.query_id
    """,
    tags=("text", "retrieval", "eval", "ndcg", "recall", "mmr"),
    parts=("mmr", "ndcg", "recall5"),
)
def retrieval_extras_query(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Retrieval suite, second slot (r8 session 2 de-overload):
    MMR diversity re-ranking, nDCG@5 and max-grade recall@5 of the
    BM25 ranking — all over the same shared inverted index the q61
    legs use. r10 rotation (VERDICT r9 #1): renamed
    q79_retrieval_extras → q17_retrieval_extras to sort INTO the
    driver's 50-entry checked prefix — it had never had a driver
    CORRECTNESS row. Still excluded from bench.py (see q75's note)."""
    legs = _retrieval_suite_legs(spark, sf_dir)
    out = legs["mmr"]
    for t in ("ndcg", "recall5"):
        out = out.unionByName(legs[t])
    return out


def _retrieval_suite_legs(spark: SparkSession,
                          sf_dir: str) -> "dict[str, DataFrame]":
    """Per-leg builders for the q61/q17 retrieval suites:

    * ``tfidf`` — top-3 TF-IDF terms per document (first 20 docs) —
      relational TF-IDF (operators.textual.tf_idf_terms), checked
      digit-for-digit against the oracle's re-derivation.
      Deterministic tie-break on term.
    * ``bm25`` — r5 session 4: BM25 ranked retrieval
      (operators.textual.bm25_topk): top-5 documents for three fixed
      multi-term queries over the corpus inverted index
      (Robertson/Lucene idf, k1=1.2, b=0.75). term carries the
      query_id, tf the doc length, df the matched-term count, v the
      rounded score. The oracle re-derives every score from the same
      token stream and ranks on the same rounded key.
    * ``rrf`` — r5 session 5: reciprocal-rank fusion
      (operators.relational.rrf_fuse, k0=60) of the BM25 top-5 with
      the coordination-tf top-5 (operators.textual.term_match_topk —
      integer scores, same tokenization contract): the standard
      hybrid-retrieval combiner. tf = number of source lists the doc
      appeared in, v = the fused score (6 dp), rank on the rounded
      score. Both source rankings AND the fusion are oracle-re-derived.
    * ``phrase`` — r5 session 5: exact consecutive-token phrase
      occurrences (operators.textual.phrase_search): one positional
      posting build, per-phrase k−1 equi-joins on (doc, pos+i) over
      single-term posting lists — O(Σ phrase-term postings), never a
      corpus scan per phrase. term = phrase_id, tf = match count;
      the oracle re-enumerates every window per phrase.
    * ``bpe`` — r6 (VERDICT r5 #5): BPE tokenizer training
      (operators.textual.bpe_learn_merges, 8 merges over a fixed
      500-doc slice): weighted pair counts over the vocab table,
      argmax as a 1-row TakeOrdered broadcast per round. doc_id =
      step, term = merged pair, tf = pair weight. The oracle pins the
      merge list an independent pure-Python Sennrich BPE emits at
      each driver scale (_BPE_PINNED, keyed on lineitem cardinality
      — the q42 pinned-contract pattern).
    """
    from pyspark.sql import Window as W

    from ..operators.relational import rrf_fuse
    from ..operators.textual import (bm25_topk, doc_term_freqs,
                                     term_match_topk, tf_idf_terms)

    docs = load_table(spark, sf_dir, "documents")
    # ONE inverted-index build for the three term-level parts (and the
    # bm25 ranking consumed twice: its own part + the rrf fusion) —
    # r7: without the shared persisted tf table the one-pass union
    # tokenized the corpus 16 times (plan audit: 17 documents scans,
    # 0 reused exchanges)
    tf_all = cache.persist(doc_term_freqs(docs))
    scored = tf_idf_terms(docs, tf=tf_all).filter(F.col("doc_id") < 20)
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    tfidf = (scored.withColumn("rnk", F.row_number().over(w).cast("int"))
             .filter(F.col("rnk") <= 3)
             .select(F.lit("tfidf").alias("part"), "doc_id", "term",
                     "tf", "df", F.col("tfidf").alias("v"), "rnk"))
    bm = cache.persist(bm25_topk(docs, _BM25_QUERIES, k=_BM25_K,
                                 k1=_BM25_K1, b=_BM25_B, tf=tf_all))
    bm25 = (bm.select(F.lit("bm25").alias("part"), "doc_id",
                      F.col("query_id").alias("term"),
                      F.col("doc_len").alias("tf"),
                      F.col("n_matched_terms").alias("df"),
                      F.col("score").alias("v"), "rnk"))
    co = term_match_topk(docs, _BM25_QUERIES, k=_BM25_K, tf=tf_all)
    fused = rrf_fuse(
        bm.select("query_id", "doc_id", "rnk")
          .unionByName(co.select("query_id", "doc_id", "rnk")),
        k0=60, top_k=_BM25_K)
    rrf = fused.select(
        F.lit("rrf").alias("part"), "doc_id",
        F.col("query_id").alias("term"),
        F.col("n_sources").alias("tf"),
        F.lit(None).cast("long").alias("df"),
        F.round("rrf_score", 6).alias("v"), "rnk")

    from ..operators.textual import phrase_search

    phrase = (phrase_search(docs, _PHRASE_QUERIES)
              .select(F.lit("phrase").alias("part"), "doc_id",
                      F.col("phrase_id").alias("term"),
                      F.col("n_matches").alias("tf"),
                      F.lit(None).cast("long").alias("df"),
                      F.lit(None).cast("double").alias("v"),
                      F.lit(None).cast("int").alias("rnk")))

    from ..operators.textual import bpe_learn_merges

    # bpe: tokenizer training on a FIXED 500-doc slice so the
    # iterative cost stays flat across scales (the merge list is
    # pinned per scale in _BPE_PINNED — the oracle side of the
    # contract). doc_id = step, term = merged pair, tf = pair weight.
    # driver_fit_max_vocab: the slice's vocab is 31 distinct words —
    # the bounded-sample driver fit replaces 8 rounds x 2 tiny Spark
    # jobs (~5.5s of scheduling at sf0.1) with one aggregate + one
    # 31-row collect (see the operator docstring)
    bpe = (bpe_learn_merges(docs.filter(F.col("doc_id") < 500),
                            "text", n_merges=8,
                            driver_fit_max_vocab=4096)
           .select(F.lit("bpe").alias("part"),
                   F.col("step").cast("long").alias("doc_id"),
                   F.col("merged").alias("term"),
                   F.col("pair_weight").alias("tf"),
                   F.lit(None).cast("long").alias("df"),
                   F.lit(None).cast("double").alias("v"),
                   F.col("step").cast("int").alias("rnk")))
    from ..operators.textual import mmr_select, shingles_expr

    # mmr (r7 session 3): diversity re-ranking of the coordination
    # top-10 pool — greedy 0.7·rel − 0.3·max-shingle-Jaccard-to-
    # selected, 5 picks per query (operators.textual.mmr_select;
    # greedy runs per-query in a cogrouped pandas step, pool and
    # pairwise sims stay relational — the pool is top-k-bounded, so
    # the Python group never scales with the corpus)
    pool = (term_match_topk(docs, _BM25_QUERIES, k=10, tf=tf_all)
            .select("query_id", "doc_id",
                    F.col("match_tf").alias("rel")))
    csh = (docs.join(pool.select("doc_id").distinct(), "doc_id")
           .select("doc_id", shingles_expr(F.col("text"), 3).alias("s")))
    pr = (pool.select(F.col("query_id").alias("qa"),
                      F.col("doc_id").alias("doc_a"))
          .join(pool.select(F.col("query_id").alias("qb"),
                            F.col("doc_id").alias("doc_b")),
                (F.col("qa") == F.col("qb"))
                & (F.col("doc_a") < F.col("doc_b")))
          .select(F.col("qa").alias("query_id"), "doc_a", "doc_b"))
    common = F.size(F.array_intersect("sa", "sb"))
    un = F.size("sa") + F.size("sb") - common
    sims = (pr.join(csh.select(F.col("doc_id").alias("doc_a"),
                               F.col("s").alias("sa")), "doc_a")
            .join(csh.select(F.col("doc_id").alias("doc_b"),
                             F.col("s").alias("sb")), "doc_b")
            .select("query_id", "doc_a", "doc_b",
                    F.when(un == 0, F.lit(0.0))
                    .otherwise(common.cast("double") / un).alias("sim")))
    mmr = (mmr_select(pool, sims, lam=0.7, mu=0.3, k=5)
           .select(F.lit("mmr").alias("part"), "doc_id",
                   F.col("query_id").alias("term"),
                   F.col("step").cast("long").alias("tf"),
                   F.lit(None).cast("long").alias("df"),
                   F.round("mmr_score", 6).alias("v"),
                   F.col("step").cast("int").alias("rnk")))

    from ..operators.textual import retrieval_eval

    # ndcg / recall5 (r7): score the BM25 top-5 itself — graded
    # relevance = matched query terms, ideal ranking re-derived from
    # the full candidate set (same persisted index, no new scan)
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in _BM25_QUERIES for t in terms],
        ["query_id", "term"])
    cand = (tf_all.join(F.broadcast(qterms), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("rel")))
    # persisted: ndcg AND recall5 read it — identical sibling
    # subtrees are never folded, so without this the candidate join +
    # eval would run twice
    ev = cache.persist(retrieval_eval(bm, cand, k=_BM25_K))
    nulls = [F.lit(None).cast("long").alias("doc_id")]
    ndcg = ev.select(F.lit("ndcg").alias("part"), *nulls,
                     F.col("query_id").alias("term"),
                     F.lit(None).cast("long").alias("tf"),
                     F.lit(None).cast("long").alias("df"),
                     fround("ndcg").alias("v"),
                     F.lit(None).cast("int").alias("rnk"))
    rec = ev.select(F.lit("recall5").alias("part"), *nulls,
                    F.col("query_id").alias("term"),
                    F.col("n_rel_max").alias("tf"),
                    F.col("n_hit_max").alias("df"),
                    fround("recall_max").alias("v"),
                    F.lit(None).cast("int").alias("rnk"))
    return {"tfidf": tfidf, "bm25": bm25, "rrf": rrf,
            "phrase": phrase, "bpe": bpe, "mmr": mmr,
            "ndcg": ndcg, "recall5": rec}


@register(
    "q21_repetition_ngram_filters",
    oracle="""
    WITH words AS (
      SELECT doc_id, lang,
             CAST(greatest(length(text), 1) AS DOUBLE) AS n_chars,
             string_split_regex(lower(text), '\\s+') AS w
      FROM documents),
    grams AS (
      SELECT doc_id, n,
             unnest([array_to_string(w[i:i+n-1], ' ')
                     for i in range(1, len(w) - n + 2)]) AS gram
      FROM words, (VALUES (2), (5)) AS sizes(n)
      WHERE len(w) >= n),
    counts AS (
      SELECT doc_id, n, gram, COUNT(*) AS cnt
      FROM grams GROUP BY ALL),
    per_doc AS (
      SELECT doc_id,
             MAX(CASE WHEN n = 2 THEN cnt * length(gram) END) AS top2_chars,
             SUM(CASE WHEN n = 5 AND cnt >= 2
                      THEN cnt * length(gram) END) AS dup5_chars
      FROM counts GROUP BY doc_id),
    fracs AS (
      SELECT w.doc_id, w.lang,
             COALESCE(top2_chars, 0) / n_chars AS top2_frac,
             COALESCE(dup5_chars, 0) / n_chars AS dup5_frac
      FROM words w LEFT JOIN per_doc USING (doc_id)),
    rep AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             ROUND(AVG(top2_frac), 4) AS avg_top2gram_frac,
             ROUND(MAX(top2_frac), 4) AS max_top2gram_frac,
             ROUND(AVG(dup5_frac), 4) AS avg_dup5gram_frac,
             ROUND(MAX(dup5_frac), 4) AS max_dup5gram_frac,
             CAST(SUM(CASE WHEN top2_frac > 0.20 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flag_top2,
             CAST(SUM(CASE WHEN dup5_frac > 0.15 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flag_dup5
      FROM fracs GROUP BY lang),
    tok AS (SELECT doc_id, unnest(w) AS t FROM words),
    freq AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
    tot AS (SELECT SUM(cnt) AS total FROM freq),
    wts AS (
      SELECT t, cnt,
             (CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 2001 - 1000)
               / 1000.0 AS wt
      FROM freq),
    docsc AS (
      SELECT tok.doc_id,
             AVG(ln(wts.cnt)) - ANY_VALUE(ln(tot.total)) AS logprob,
             AVG(wts.wt) AS clf
      FROM tok JOIN wts USING (t) CROSS JOIN tot
      GROUP BY tok.doc_id),
    lm AS (
      SELECT w2.lang,
             ROUND(AVG(logprob), 4) AS avg_unigram_logprob,
             ROUND(MIN(logprob), 4) AS min_unigram_logprob,
             CAST(SUM(CASE WHEN ROUND(logprob, 4) < -3.45 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_flag_lowprob,
             ROUND(AVG(clf), 4) AS avg_clf_score,
             CAST(SUM(CASE WHEN ROUND(clf, 4) > 0.2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_flag_clf
      FROM docsc JOIN (SELECT doc_id, lang FROM words) w2 USING (doc_id)
      GROUP BY w2.lang),
    -- r5 session 5: corpus bigram LM scores
    -- (operators.textual.bigram_doc_scores) — MLE p(w_i|w_{i-1}),
    -- same token stream, every score re-derived
    bgl AS (
      SELECT doc_id,
             unnest([array_to_string(w[i:i+1], ' ')
                     for i in range(1, len(w))]) AS bg
      FROM words WHERE len(w) >= 2),
    bgc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c
            FROM bgl GROUP BY 1),
    prec AS (SELECT split_part(bg, ' ', 1) AS pre, SUM(c) AS pc
             FROM bgc GROUP BY 1),
    bdoc AS (
      SELECT bgl.doc_id,
             AVG(ln(bgc.c * 1.0 / prec.pc)) AS blogprob
      FROM bgl JOIN bgc USING (bg)
      JOIN prec ON split_part(bgl.bg, ' ', 1) = prec.pre
      GROUP BY 1),
    blm AS (
      SELECT w2.lang,
             ROUND(AVG(blogprob), 4) AS avg_bigram_logprob,
             ROUND(AVG(exp(-blogprob)), 4) AS avg_bigram_ppl
      FROM bdoc JOIN (SELECT doc_id, lang FROM words) w2 USING (doc_id)
      GROUP BY 1),
    -- r7: Zipf log-log slope over each lang's top-100 terms —
    -- same deterministic rank (cnt DESC, term) and the same
    -- grouped_ols closed form / guard structure as the engine
    ltok AS (
      SELECT lang, unnest(w) AS t FROM words),
    zrank AS (
      SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY COUNT(*) DESC, t) AS rk
      FROM ltok WHERE t <> '' GROUP BY lang, t),
    zsum AS (
      SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM (SELECT lang, ln(CAST(rk AS DOUBLE)) AS x,
                   ln(CAST(cnt AS DOUBLE)) AS y
            FROM zrank WHERE rk <= 100)
      GROUP BY lang),
    zipf AS (
      SELECT lang,
             CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0
                  THEN ROUND((n * sxy - sx * sy)
                             / (n * sxx - sx * sx), 4) END
               AS zipf_slope,
             CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0 THEN
               CASE WHEN n * syy - sy * sy <> 0
                    THEN ROUND(((n * sxy - sx * sy)
                                / (n * sxx - sx * sx))
                               * ((n * sxy - sx * sy)
                                  / (n * sxx - sx * sx))
                               * (n * sxx - sx * sx)
                               / (n * syy - sy * sy), 4)
                    ELSE 1.0 END END AS zipf_r2
      FROM zsum)
    -- r7 session 3: Chao1 vocabulary richness from the same
    -- frequency table (bias-corrected: D + f1(f1-1)/(2(f2+1)))
    , chao AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab_seen,
             CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS vocab_singletons,
             CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS vocab_doubletons,
             ROUND(COUNT(*)
                   + SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                     * (SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) - 1)
                     / (2.0 * (SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END)
                               + 1)), 4) AS chao1_vocab,
             ROUND(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                   / CAST(SUM(cnt) AS DOUBLE), 4) AS gt_unseen_mass
      FROM zrank GROUP BY lang)
    SELECT rep.*, lm.avg_unigram_logprob, lm.min_unigram_logprob,
           lm.n_flag_lowprob, lm.avg_clf_score, lm.n_flag_clf,
           blm.avg_bigram_logprob, blm.avg_bigram_ppl,
           zipf.zipf_slope, zipf.zipf_r2,
           chao.vocab_seen, chao.vocab_singletons,
           chao.vocab_doubletons, chao.chao1_vocab,
           chao.gt_unseen_mass
    FROM rep JOIN lm USING (lang) JOIN blm USING (lang)
         JOIN zipf USING (lang) JOIN chao USING (lang)
    """,
    tags=("text", "quality", "dedup", "gopher", "lm", "bigram",
          "zipf"),
)
def repetition_ngram_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style repetition filters (Rae et al. 2021,
    public corpus-filtering recipe), adapted to newline-free synthetic
    docs: per-document character-coverage of (a) the HEAVIEST word
    2-gram (occurrences x gram chars — a deterministic stand-in for
    'most frequent n-gram char fraction' that needs no tie-break) and
    (b) all DUPLICATED word 5-grams (every occurrence of a 5-gram seen
    >= 2 times), each normalized by document chars; then per-lang
    aggregates plus counts of docs breaching the filter thresholds
    (top-2-gram coverage > 0.20, dup-5-gram coverage > 0.15).

    Three more Gopher-family signals (r3 session 3), rolled up per
    lang alongside the repetition stats:

    * ``avg/min_unigram_logprob`` + ``n_flag_lowprob`` — per-doc mean
      ln p(token) under the CORPUS unigram LM
      (``textual.unigram_doc_scores``): the cheap perplexity proxy;
      flag threshold −3.45 sits at the observed 10th percentile.
    * ``avg_clf_score`` + ``n_flag_clf`` — hashing-trick linear-model
      score (``textual.hashed_weight_expr``, fastText-style inference
      with md5 pseudo-weights so the oracle reproduces them exactly);
      flag > 0.2 ≈ the 90th percentile.
    * ``avg_bigram_logprob`` + ``avg_bigram_ppl`` — r5 session 5:
      per-doc mean ln p(w_i|w_{i−1}) under the corpus bigram LM and
      its perplexity (``textual.bigram_doc_scores``): MLE transition
      probabilities (self-scoring, so no unseen bigrams), bigrams
      from a shuffle-free arrays_zip of the word array against its
      tail, counts as token-keyed aggregates the occurrence stream
      joins — the step up from the unigram proxy on the same
      tokenization contract.

    * ``zipf_slope`` / ``zipf_r2`` — r7: log-log OLS over each lang's
      top-100 term frequencies (rank deterministic: count DESC, term)
      via ``regression.grouped_ols``'s closed form — the
      vocabulary-shape health metric (natural text slopes ≈ −1;
      boilerplate flattens it, template-exploded vocab steepens it).

    * ``vocab_seen``/``vocab_singletons``/``vocab_doubletons``/
      ``chao1_vocab`` — r7 session 3: Chao1 nonparametric vocabulary-
      richness estimate (Chao 1984, bias-corrected
      D + f1(f1−1)/(2(f2+1))) per lang, from the SAME frequency table
      the Zipf fit ranks — "how much vocabulary the population holds
      beyond this sample", the corpus-coverage planning number.
      Exact-integer inputs; the oracle re-derives every column.
      ``gt_unseen_mass`` is the Good-Turing missing-mass companion
      (f1/N): the probability the NEXT sampled token is a type this
      sample has never seen — the stop-crawling/keep-crawling signal.

    No reference precedent (the reference processes no free text);
    this is the §2.9 training-data-quality surface.

    100 TB notes: the repetition path is the Arrow-batched per-doc
    coverage UDF (``textual.gram_coverage_stats_udf``) — one documents
    scan, ZERO shuffle before the tiny per-lang aggregate, no gram
    strings ever materialized or moved. The pure-relational
    formulation (``repetition_fracs_relational``) pushes ~7x the text
    volume through two shuffles (gram counts + per-doc agg) and is
    kept only as the equivalence/oracle-shape witness — pytest pins
    both paths to identical output. Measured at sf0.1: 1.3s (Arrow)
    vs 1.9s (relational window-lead) vs 2.9s (interpreted HOF).
    The LM path adds one token-keyed shuffle (freq) + one doc-keyed
    aggregate; the final per-lang join is a 5-row broadcast.
    """
    from ..operators.textual import (
        bigram_doc_scores,
        gram_coverage_stats_udf,
        unigram_doc_scores,
    )

    # fan_out: n-gram coverage + LM scoring are per-byte scan work
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    stats = gram_coverage_stats_udf()
    fracs = docs.select(
        "lang",
        F.greatest(F.length("text"), F.lit(1)).cast("double")
         .alias("n_chars"),
        stats("text").alias("s")).select(
        "lang",
        (F.col("s.top2_chars") / F.col("n_chars")).alias("top2_frac"),
        (F.col("s.dup5_chars") / F.col("n_chars")).alias("dup5_frac"))
    scores = unigram_doc_scores(docs).join(
        docs.select("doc_id", "lang"), "doc_id")
    lm = scores.groupBy("lang").agg(
        fround(F.avg("logprob")).alias("avg_unigram_logprob"),
        fround(F.min("logprob")).alias("min_unigram_logprob"),
        F.sum(F.when(F.round("logprob", 4) < -3.45, 1).otherwise(0))
         .alias("n_flag_lowprob"),
        fround(F.avg("clf")).alias("avg_clf_score"),
        F.sum(F.when(F.round("clf", 4) > 0.2, 1).otherwise(0))
         .alias("n_flag_clf"))
    blm = (bigram_doc_scores(docs)
           .join(docs.select("doc_id", "lang"), "doc_id")
           .groupBy("lang")
           .agg(fround(F.avg("bigram_logprob"))
                .alias("avg_bigram_logprob"),
                fround(F.avg("bigram_ppl")).alias("avg_bigram_ppl")))
    # zipf (r7): log-log OLS slope over each lang's top-100 terms —
    # the vocabulary-shape health metric (natural text ≈ −1; machine
    # boilerplate flattens, exploded vocab steepens). Rank window
    # state is O(vocab per lang); the fit reuses grouped_ols's
    # closed form so the oracle mirrors one expression tree.
    from ..operators.regression import grouped_ols

    ltok = (docs.select(
        "lang",
        F.explode(F.split(F.lower("text"), WS_SPLIT)).alias("t"))
        .filter(F.col("t") != ""))
    wz = W.partitionBy("lang").orderBy(F.col("cnt").desc(), "t")
    zfreq = ltok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("cnt"))
    ztop = (zfreq
            .withColumn("rk", F.row_number().over(wz))
            .filter(F.col("rk") <= 100)
            .select("lang",
                    F.log(F.col("rk").cast("double")).alias("x"),
                    F.log(F.col("cnt").cast("double")).alias("y")))
    zipf = (grouped_ols(ztop, "lang", "x", "y")
            .select(F.col("group").alias("lang"),
                    fround("slope").alias("zipf_slope"),
                    fround("r2").alias("zipf_r2")))
    # chao1 (r7 session 3): nonparametric vocabulary-richness estimate
    # (Chao 1984, bias-corrected form D + f1(f1-1)/(2(f2+1))) from the
    # SAME per-lang frequency table zipf ranks — "how much vocabulary
    # does the full population hold beyond this sample", the corpus-
    # coverage planning number. All inputs are exact integers.
    chao = (zfreq.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("vocab_seen"),
                 F.count(F.when(F.col("cnt") == 1, 1)).alias("f1c"),
                 F.count(F.when(F.col("cnt") == 2, 1)).alias("f2c"),
                 F.sum("cnt").alias("n_tok"))
            .select("lang", "vocab_seen",
                    F.col("f1c").alias("vocab_singletons"),
                    F.col("f2c").alias("vocab_doubletons"),
                    fround(F.col("vocab_seen")
                           + F.col("f1c") * (F.col("f1c") - 1)
                           / (2.0 * (F.col("f2c") + 1)))
                    .alias("chao1_vocab"),
                    # Good-Turing unseen probability mass f1/N — the
                    # sample-coverage companion: how much of the
                    # population's token distribution this sample has
                    # NOT seen yet (Gale & Sampson's missing mass)
                    fround(F.col("f1c") / F.col("n_tok").cast("double"))
                    .alias("gt_unseen_mass")))
    return (_repetition_lang_agg(fracs).join(lm, "lang")
            .join(blm, "lang").join(zipf, "lang").join(chao, "lang"))


def _repetition_lang_agg(fracs: DataFrame) -> DataFrame:
    """Shared per-lang rollup of the q21 (né q74) coverage fractions."""
    return fracs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        fround(F.avg("top2_frac")).alias("avg_top2gram_frac"),
        fround(F.max("top2_frac")).alias("max_top2gram_frac"),
        fround(F.avg("dup5_frac")).alias("avg_dup5gram_frac"),
        fround(F.max("dup5_frac")).alias("max_dup5gram_frac"),
        F.sum(F.when(F.col("top2_frac") > 0.20, 1).otherwise(0))
         .alias("n_flag_top2"),
        F.sum(F.when(F.col("dup5_frac") > 0.15, 1).otherwise(0))
         .alias("n_flag_dup5"))


def repetition_fracs_relational(docs: DataFrame) -> DataFrame:
    """Pure-relational q21 coverage fractions (equivalence witness for
    the Arrow path): posexplode words -> window ``lead`` to build
    positional 2-/5-grams (codegen, unlike the interpreted HOF
    ``ngrams_expr``) -> hash agg keyed (doc_id, n, gram) -> per-doc
    agg. Returns (lang, top2_frac, dup5_frac) per document; feed to
    ``_repetition_lang_agg`` for the query shape."""
    from pyspark.sql import Window as W

    base = docs.select(
        "doc_id", "lang",
        F.greatest(F.length("text"), F.lit(1)).cast("double")
         .alias("n_chars"),
        F.split(F.lower("text"), WS_SPLIT).alias("w"))
    words = base.select("doc_id", F.posexplode("w").alias("pos", "wd"))
    win = W.partitionBy("doc_id").orderBy("pos")
    led = words.select(
        "doc_id", "wd",
        *[F.lead("wd", i).over(win).alias(f"w{i}") for i in range(1, 5)])
    g2 = F.when(F.col("w1").isNotNull(), F.concat_ws(" ", "wd", "w1"))
    g5 = F.when(F.col("w4").isNotNull(),
                F.concat_ws(" ", "wd", "w1", "w2", "w3", "w4"))
    grams = (led.select("doc_id", F.explode(F.array(
                F.struct(F.lit(2).alias("n"), g2.alias("gram")),
                F.struct(F.lit(5).alias("n"), g5.alias("gram")))).alias("t"))
             .select("doc_id", "t.n", "t.gram")
             .filter(F.col("gram").isNotNull()))
    counts = (grams.groupBy("doc_id", "n", "gram")
              .agg(F.count(F.lit(1)).alias("cnt")))
    gram_chars = F.col("cnt") * F.length("gram")
    per_doc = counts.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, gram_chars)).alias("top2_chars"),
        F.sum(F.when((F.col("n") == 5) & (F.col("cnt") >= 2), gram_chars))
         .alias("dup5_chars"))
    return (base.select("doc_id", "lang", "n_chars")
            .join(per_doc, "doc_id", "left")
            .select(
                "lang",
                (F.coalesce("top2_chars", F.lit(0)) / F.col("n_chars"))
                 .alias("top2_frac"),
                (F.coalesce("dup5_chars", F.lit(0)) / F.col("n_chars"))
                 .alias("dup5_frac")))
