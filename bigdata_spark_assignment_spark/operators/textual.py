"""Text-analysis operators (SURVEY.md §2.9 north star; no reference
precedent — the reference processes no free text).

Everything is a native Column expression (split/regexp/transform), so
it stays inside whole-stage codegen and is exactly mirrorable in the
DuckDB oracle. The one deliberate exception is the Arrow-batched
``gram_coverage_stats_udf`` (q74), where the relational formulation
would shuffle ~7x the text volume — see its docstring.

100 TB notes: all ops here are narrow, per-row transforms — they scale
embarrassingly. The only caveat is shingle explosion (k-shingles
multiply row width by ~word count); downstream consumers (dedup LSH)
explode them, so keep the shingle arrays deduplicated (array_distinct)
to bound the blowup.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import cache

# The ONE whitespace class every tokenizer in the engine splits on —
# written out explicitly as [ \t\n\r\f] because the three regex
# engines disagree on \s: RE2 (the DuckDB oracle) = [ \t\n\f\r],
# Java (Spark) adds \x0B, Python's default adds all of Unicode. The
# explicit class IS RE2's \s, so oracle SQL keeps writing '\s+' while
# Spark and Python sides use these constants and all three tokenize
# any input — including \x0B or U+00A0 in scraped text — identically.
# Raw escape sequences (backslash-t etc.), not literal control chars:
# Java, RE2, and Python's re all interpret them, and the pattern stays
# printable ASCII when injected into oracle SQL string literals.
WS_CLASS = r" \t\n\r\f"
WS_SPLIT = f"[{WS_CLASS}]+"


def words_expr(text: Column) -> Column:
    """Lower-cased whitespace tokenization (``WS_SPLIT`` contract)."""
    return F.split(F.lower(text), WS_SPLIT)


def token_count_expr(text: Column) -> Column:
    """Whitespace token count (the cheap proxy used for corpus stats)."""
    return F.size(words_expr(text))


def bpe_ish_token_count_expr(text: Column) -> Column:
    """BPE-ish token estimate: count of word pieces after splitting on
    whitespace AND punctuation boundaries, ~GPT-2 pre-tokenizer shape.
    Heuristic, but deterministic and oracle-expressible."""
    return F.size(
        F.filter(
            F.split(F.lower(text),
                    f"[{WS_CLASS}" + r"\.,;:!\?\(\)\[\]\{\}\"']+"),
            lambda t: t != "",
        )
    )


def shingles_expr(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles: ["the quick brown", "quick brown fox",
    ...]. Documents with fewer than k words yield an empty array (they
    can't participate in shingle-based similarity).

    Expression shape: the word array is bound as a LAMBDA VARIABLE via
    a single-element ``transform`` (Spark has no `let`) — referencing
    the split() expression directly inside the per-position lambda
    would re-tokenize the full text once per shingle position under
    interpreted higher-order functions (measured ~6s of the MinHash
    pipeline's wall clock at sf0.1, the single largest cost).
    """
    return F.element_at(
        F.transform(
            F.array(words_expr(text)),
            lambda w: F.when(
                F.size(w) >= k,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size(w) - k),
                        lambda i: F.array_join(F.slice(w, i + 1, k), " "),
                    )
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
        1,
    )


def ngrams_expr(text: Column, n: int) -> Column:
    """Positional (NON-distinct) word n-grams — unlike ``shingles_expr``
    this keeps every occurrence, because repetition-filter metrics need
    occurrence counts, not set membership. Docs with fewer than n words
    yield an empty array.

    Same lambda-variable binding trick as ``shingles_expr`` (single-
    element transform = poor-man's `let`) so the text is tokenized once,
    not once per gram position."""
    return F.element_at(
        F.transform(
            F.array(words_expr(text)),
            lambda w: F.when(
                F.size(w) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - n),
                    lambda i: F.array_join(F.slice(w, i + 1, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
        1,
    )


def fingerprint_expr(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-collapsed,
    lower-cased text — catches case/whitespace-only duplicates that
    byte-exact dedup misses."""
    normalized = F.trim(F.regexp_replace(F.lower(text), WS_SPLIT, " "))
    return F.md5(normalized)


# Marker words per language for the n-gram/stopword heuristic.
# Deliberately tiny: the point is a deterministic, oracle-expressible
# scoring rule, not linguistic accuracy.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "que", "los", "una"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "et", "les", "des", "une"],
}


def lang_score_expr(text: Column, lang: str) -> Column:
    """Count of word-boundary marker-word hits for one language — ONE
    alternation regex per language (a per-marker loop costs 5 full
    text scans per language; the alternation is a single scan with
    identical match counts since markers are distinct whole words)."""
    markers = LANG_MARKERS[lang]
    return F.regexp_count(text, F.lit(rf"\b({'|'.join(markers)})\b"))


def cjk_count_expr(text: Column) -> Column:
    """Count of CJK-ideograph characters (the 'zh' signal)."""
    return F.regexp_count(text, F.lit(r"[一-鿿]"))


def lang_id_expr(text: Column) -> Column:
    """Heuristic language ID: any CJK chars → zh; otherwise the
    max-scoring marker language, ties broken in fixed order
    en > es > de > fr; all-zero → 'und' (undetermined).

    The CASE chain IS the tie-break definition — the oracle mirrors it
    verbatim, so the semantics are pinned, not incidental.
    """
    lowered = F.lower(text)
    s = {lang: lang_score_expr(lowered, lang) for lang in LANG_MARKERS}
    return (
        F.when(cjk_count_expr(text) > 0, "zh")
        .when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"])
              & (s["en"] > 0), "en")
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]) & (s["es"] > 0), "es")
        .when((s["de"] >= s["fr"]) & (s["de"] > 0), "de")
        .when(s["fr"] > 0, "fr")
        .otherwise("und")
    )


def quality_score_expr(text: Column) -> Column:
    """Composite document-quality score in [0, 1]:

      0.25 · length_ok   (120 ≤ chars ≤ 20000)
    + 0.25 · (1 − punct_ratio · 5, clamped ≥ 0)
    + 0.25 · stopword_hit (≥ 2 common-word hits)
    + 0.25 · alpha_ratio  (letters / chars)

    The exact recipe is arbitrary (as all quality heuristics are); what
    matters is each component is a native expression the oracle can
    replicate digit-for-digit.
    """
    n = F.length(text).cast("double")
    length_ok = F.when((n >= 120) & (n <= 20000), 1.0).otherwise(0.0)
    punct = F.regexp_count(text, F.lit(r"[\.,;:!\?]")).cast("double")
    punct_term = F.greatest(F.lit(0.0), F.lit(1.0) - (punct / n) * 5.0)
    stop_hits = lang_score_expr(F.lower(text), "en")
    stop_term = F.when(stop_hits >= 2, 1.0).otherwise(0.0)
    alpha = F.regexp_count(text, F.lit(r"[A-Za-z]")).cast("double")
    alpha_term = alpha / n
    return (length_ok + punct_term + stop_term + alpha_term) * 0.25


def doc_term_freqs(docs, id_col: str = "doc_id", text_col: str = "text",
                   min_term_len: int = 2):
    """The (doc_id, term, tf) table — THE inverted-index core every
    term-level retrieval operator in this module derives from (TF-IDF,
    BM25, coordination match). Exposed so a caller composing several
    of them can build it ONCE and persist it: r7 measured the q61
    one-pass union tokenizing the corpus 16 separate times (17
    documents scans, zero exchange reuse) because each part rebuilt
    this subtree privately. One tokenization contract: lower-cased
    whitespace split, terms shorter than ``min_term_len`` dropped."""
    from pyspark.sql import functions as F

    tokens = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words_expr(F.col(text_col))).alias("term"))
    tokens = tokens.filter(F.length("term") >= min_term_len)
    return tokens.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"))


def tf_idf_terms(docs, id_col: str = "doc_id", text_col: str = "text",
                 min_term_len: int = 2, tf=None):
    """Per-(doc, term) TF-IDF as pure relational algebra — explode
    tokens, count term frequency per doc, document frequency per term,
    ``idf = ln((N+1)/(df+1)) + 1`` (smooth, sklearn-style). Returns
    (doc_id, term, tf, df, tfidf).

    Fully SQL-expressible (the oracle re-derives it), unlike
    ``HashingTF`` whose bucket collisions are implementation-defined.

    100 TB notes: two shuffles (doc-term group, term group); the df
    side is a broadcast-friendly aggregate (|vocab| rows). The classic
    scale hazard is stop-term df rows being hot keys in the join —
    broadcast the df table (vocab-sized) and there is no skew at all.
    The corpus size N enters as a broadcast 1-row aggregate (the
    scalar-subquery pattern, like ``impute_mean``), NOT an eager
    ``count()`` — the operator stays fully lazy and composes into a
    single-pass pipeline with no hidden pre-scan.

    ``tf``: a precomputed ``doc_term_freqs`` table to derive from
    (pass the SAME min_term_len's output); None builds it here.
    """
    from pyspark.sql import functions as F

    if tf is None:
        tf = doc_term_freqs(docs, id_col, text_col, min_term_len)
    n_docs = docs.agg(
        F.count_distinct(F.col(id_col)).alias("__n_docs"))
    df_tab = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"))
    return (tf.join(F.broadcast(df_tab), "term")
            .crossJoin(F.broadcast(n_docs))
            .withColumn("tfidf",
                        F.col("tf") * (F.log((F.col("__n_docs") + 1)
                                             / (F.col("df") + 1)) + 1))
            .select("doc_id", "term", "tf", "df",
                    F.round("tfidf", 4).alias("tfidf")))


# --- PII masking / repetition / chunking (training-data prep ops) ----

# Conservative patterns valid in BOTH Java regex (Spark) and RE2
# (DuckDB) so the oracle can mirror the masking digit-for-digit.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# [^ \t\n\r\f], not [^\s]: \s differs across Java/RE2 (see WS_CLASS) —
# the explicit complement keeps the injected oracle copy identical
URL_RE = f"https?://[^{WS_CLASS}]+"


def pii_counts_expr(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_urls) occurrence counts — the masking audit trail."""
    return (F.regexp_count(text, F.lit(EMAIL_RE)),
            F.regexp_count(text, F.lit(URL_RE)))


def mask_pii_expr(text: Column) -> Column:
    """Mask emails and URLs with typed placeholder tokens — the
    standard pre-training scrub. Order matters: emails first, so
    mailto:-style addresses inside URLs don't survive as fragments.
    Native regexp_replace chain — narrow, codegen-fused, and exactly
    reproducible in the oracle."""
    masked = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(masked, URL_RE, "<URL>")


def repetition_ratio_expr(text: Column) -> Column:
    """Token-repetition ratio in [0, 1): 1 − distinct_words/words —
    the cheap boilerplate/spam signal (high ratio = heavy repetition).
    Empty/one-word docs score 0."""
    w = words_expr(text)
    return F.when(
        F.size(w) > 0,
        1.0 - F.size(F.array_distinct(w)) / F.size(w).cast("double"),
    ).otherwise(F.lit(0.0))


def chunk_documents(docs, max_tokens: int = 64, overlap: int = 16,
                    id_col: str = "doc_id", text_col: str = "text"):
    """Split documents into overlapping token-window chunks — the
    training-data chunking op. Returns (doc_id, chunk_id, chunk_text,
    n_tokens); chunk i covers words [i·stride, i·stride + max_tokens)
    with stride = max_tokens − overlap; the last chunk may be short; a
    doc shorter than max_tokens yields exactly one chunk.

    Pure relational algebra (split → sequence of starts → posexplode →
    slice/join), exactly SQL-expressible — no UDF. 100 TB notes:
    narrow transform; output rows ≈ tokens/stride per doc, so the
    explode multiplies row count but total text volume only by
    max_tokens/stride (the overlap factor).
    """
    stride = max_tokens - overlap
    if stride <= 0:
        raise ValueError("need overlap < max_tokens")

    # Bind the word array as a lambda variable (single-element
    # transform = poor-man's `let`, as in shingles_expr) — referencing
    # the split() directly inside the per-start lambda would re-tokenize
    # the document once per chunk under interpreted HOFs.
    def _chunks(w: Column) -> Column:
        n_chunks = F.greatest(
            F.lit(1),
            F.ceil((F.size(w) - F.lit(overlap)) / F.lit(stride)).cast("int"))
        starts = F.sequence(F.lit(0), (n_chunks - 1) * stride,
                            F.lit(stride))
        return F.transform(starts,
                           lambda s: F.slice(w, s + 1, max_tokens))

    chunks = F.element_at(
        F.transform(F.array(words_expr(F.col(text_col))), _chunks), 1)
    out = (docs
           .select(F.col(id_col).alias("doc_id"),
                   F.posexplode(chunks).alias("chunk_id", "chunk_words")))
    return out.select(
        "doc_id", "chunk_id",
        F.array_join("chunk_words", " ").alias("chunk_text"),
        F.size("chunk_words").alias("n_tokens"))


# The Python-side tokenizer contract, mirroring ``words_expr``: lower
# + split on the shared explicit class ``WS_SPLIT`` (see WS_CLASS —
# Python's default \s is Unicode-aware and Java's includes \x0B, so
# neither a U+00A0 non-breaking space nor a vertical tab may split
# differently across the three engines). None → [] (words_expr on
# NULL yields no rows); '' → [''] (F.split of the empty string yields
# one empty token, and so does DuckDB's string_split_regex).
#
# A plain-string constant (not a helper function) on purpose: the
# Arrow UDF closures are pickled by value and must stay self-contained
# (executors cannot import this package when the driver adds it to
# sys.path at runtime, e.g. driver_sim from /tmp) — a module-level
# helper would pickle by REFERENCE and raise ModuleNotFoundError on
# the workers. Closure code referencing this constant captures it by
# value. Every per-text UDF must tokenize as:
#     ws = re.compile(_WS_ASCII); [] if t is None else ws.split(t.lower())
_WS_ASCII = WS_SPLIT


def gram_coverage_stats_udf():
    """Arrow-batched per-document n-gram coverage stats for the
    repetition filters (q74): returns a struct of ``top2_chars``
    (occurrences x chars of the heaviest word 2-gram) and
    ``dup5_chars`` (total chars of all word-5-gram occurrences whose
    gram appears >= 2 times in the doc).

    Why a pandas_udf and not native expressions: the relational
    formulation (positional n-gram explode -> hash agg keyed
    (doc_id, n, gram) -> per-doc agg) pushes ~7x the text volume
    through two shuffles, and the pure-expression gram builder is an
    interpreted higher-order-function chain (not codegen). A per-doc
    Counter over an Arrow batch is O(tokens) with ZERO shuffle —
    measured 1.3s vs 1.9s (window-lead relational) vs 2.9s (HOF) at
    sf0.1, and the gap widens with scale because the narrow plan moves
    no gram bytes at all. The relational path stays available for
    equivalence testing (``tests/test_textual.py``).

    Tokenization contract: MUST mirror ``words_expr`` (lower, split on
    ``\\s+``) or the DuckDB oracle drifts.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _stats(texts):
        import re
        from collections import Counter

        ws = re.compile(_WS_ASCII)
        tops, dups = [], []
        for t in texts:
            w = [] if t is None else ws.split(t.lower())
            c2 = Counter(zip(w, w[1:]))
            tops.append(max(
                (cnt * (len(a) + len(b) + 1)
                 for (a, b), cnt in c2.items()), default=0))
            c5 = Counter(zip(w, w[1:], w[2:], w[3:], w[4:]))
            dups.append(sum(cnt * (sum(map(len, g)) + 4)
                            for g, cnt in c5.items() if cnt >= 2))
        return pd.DataFrame({"top2_chars": tops, "dup5_chars": dups})

    # Real class objects, not strings: this module has
    # `from __future__ import annotations`, under which inline hints
    # become unresolvable strings ('pd' is function-local) and
    # pandas_udf's type-hint inference fails.
    _stats.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return pandas_udf(_stats, "struct<top2_chars: long, dup5_chars: long>")


def hashed_weight_expr(token: Column) -> Column:
    """Pseudo-weight in [-1, 1] for a token under a hashing-trick
    linear model (the fastText-style inference pattern: score a doc by
    the mean weight of its hashed tokens — no vocabulary file, one
    narrow expression per token). md5-derived (not xxhash64) for the
    same reason as ``cleaning.hash_split_expr``: any engine, including
    the DuckDB oracle, reproduces the weights bit-for-bit. A real
    deployment swaps this expression for a broadcast-joined weight
    table learned offline; the plan shape (explode → project weight →
    per-doc aggregate) is identical.
    """
    return ((F.conv(F.substring(F.md5(token), 1, 8), 16, 10)
             .cast("long") % 2001 - 1000) / 1000.0)


def unigram_doc_scores(docs, id_col: str = "doc_id",
                       text_col: str = "text"):
    """Per-document unigram-LM log-probability (the cheap perplexity
    proxy of corpus-filtering recipes: a document whose tokens are
    globally rare scores low) plus the hashed-linear-model score
    (``hashed_weight_expr``). Returns (id, avg ln p(token) under the
    corpus unigram LM as ``logprob``, mean token weight as ``clf``).

    Shape: tokens explode once; the unigram frequency table is a
    token-keyed aggregate joined back to the token stream; per-doc
    aggregation folds both scores in one pass. ln p = ln cnt − ln N,
    so the global N rides a 1-row crossJoin instead of a global
    window. 100 TB notes: the freq join shuffles on token (Zipf skew
    is bounded: hot tokens are few and AQE splits oversized
    partitions); everything else is narrow or doc-keyed. The freq
    table itself is vocabulary-sized — broadcast it when the vocab
    fits (AQE does this automatically at driver scale). The token
    explode is deliberately computed twice (once under the freq
    aggregate, once as the join probe): it is a narrow recompute from
    the scan, and persisting an O(corpus-tokens) frame is exactly
    what a 100 TB run cannot do — callers at bench scale that want
    the ~2× scan saving can persist ``docs`` upstream instead.
    """
    tok = docs.select(F.col(id_col).alias("__id"),
                      F.explode(words_expr(F.col(text_col))).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("__cnt"))
    total = freq.agg(F.sum("__cnt").alias("__total"))
    return (tok.join(freq, "t")
            .groupBy("__id")
            .agg(F.avg(F.log("__cnt")).alias("__avg_ln_cnt"),
                 F.avg(hashed_weight_expr(F.col("t"))).alias("clf"))
            .crossJoin(total)
            .select(F.col("__id").alias(id_col),
                    (F.col("__avg_ln_cnt") - F.log("__total"))
                    .alias("logprob"),
                    "clf"))


def packing_accounting(docs, seq_tokens: int = 512,
                       id_col: str = "doc_id", text_col: str = "text",
                       part_col: str = "lang"):
    """Concat-and-chunk sequence-packing accounting — the GPT-style
    pretraining packing rule: within each ``part_col`` stream, concat
    documents in ``id_col`` order and cut every ``seq_tokens`` tokens.
    Returns one row per doc: its token count, the first/last sequence
    index it lands in, and whether it STRADDLES a sequence boundary
    (the docs a boundary-aware loss mask must handle).

    Fully relational: a per-partition running token total (window
    cumsum) positions every document; sequence ids are integer
    divisions of the cumulative offsets. 100 TB notes: ONE Exchange on
    the stream key (lang/source/shard — choose a key with thousands of
    partitions, not a global order) + sort; everything after is
    narrow. The same rule any tokenizer-sharded packing job applies,
    so the assignment is reproducible across engines — which is what
    the oracle checks.
    """
    from pyspark.sql import Window as W

    if seq_tokens <= 0:
        raise ValueError("need seq_tokens >= 1")
    w = (W.partitionBy(part_col).orderBy(id_col)
         .rowsBetween(W.unboundedPreceding, 0))
    toks = F.size(words_expr(F.col(text_col))).cast("long")
    out = (docs.select(id_col, part_col, toks.alias("n_toks"))
           .withColumn("__cum", F.sum("n_toks").over(w)))
    cum_before = F.col("__cum") - F.col("n_toks")
    first_seq = F.floor(cum_before / seq_tokens)
    last_seq = F.floor((F.col("__cum") - 1) / seq_tokens)
    return out.select(
        id_col, part_col, "n_toks",
        first_seq.alias("seq_first"), last_seq.alias("seq_last"),
        (last_seq > first_seq).alias("straddles"))


def window_hash_arrays_udf(n: int):
    """Arrow-batched per-document positional window HASHES: for each
    text, the array of 64-bit hashes of its ``n``-token windows
    (window i covers tokens [i, i+n)). The substring-duplication
    detector (``dedup.shared_window_stats``) groups on these hashes
    instead of window strings, so the shuffle carries 8 bytes per
    window instead of ~n words of text, and the window CONSTRUCTION
    needs no doc_id Exchange at all (the relational path pays a full
    posexplode + window-``lead`` sort; measured 71s vs ~9s per 500k
    docs / 30M tokens).

    Hashing: ``pd.util.hash_array`` per token (SipHash with a fixed
    key — deterministic across workers and sessions) combined with a
    positional polynomial (uint64 wraparound), so equal hash ⟺ equal
    token sequence up to 64-bit collisions (~N²/2⁶⁴; ~2e-5 at 30M
    windows — same order as the LSH miss bound q52 documents).
    Grouping by hash therefore reproduces group-by-text counts, which
    is what the DuckDB oracle checks.

    Tokenization contract: MUST mirror ``words_expr`` (lower, split on
    ``\\s+``) — identical to ``gram_coverage_stats_udf``.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _hashes(texts):
        import re

        import numpy as np
        import pandas as _pd

        ws = re.compile(_WS_ASCII)
        toks = [[] if t is None else ws.split(t.lower()) for t in texts]
        lens = np.fromiter((len(t) for t in toks), dtype=np.int64,
                           count=len(toks))
        total = int(lens.sum())
        flat = np.empty(total, dtype=object)
        pos = 0
        for t in toks:
            flat[pos:pos + len(t)] = t
            pos += len(t)
        n_valid = total - n + 1
        if n_valid > 0:
            h = _pd.util.hash_array(flat)
            acc = h[:n_valid].copy()
            prime = np.uint64(1099511628211)
            for k in range(1, n):
                acc = acc * prime + h[k:n_valid + k]
            signed = acc.view(np.int64)
        else:
            signed = np.empty(0, dtype=np.int64)
        out, start = [], 0
        for ln in lens:
            m = int(ln) - n + 1
            out.append(signed[start:start + m].tolist() if m > 0 else [])
            start += int(ln)
        return _pd.Series(out)

    _hashes.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_hashes, "array<long>")


def positional_ngrams(df, n: int, id_col: str = "doc_id",
                      text_col: str = "text"):
    """(id, gram) rows of positional word n-grams, built with codegen
    operators (posexplode + window ``lead``) rather than the
    interpreted HOF chain of ``ngrams_expr`` — use this when the grams
    feed further relational processing (grouping/joins); use
    ``ngrams_expr`` when you want them as an in-row array.

    100 TB notes: one shuffle (the window's hash-partition on id, sort
    by position); output is O(tokens) rows. The gram strings are
    materialized only in the window projection, so upstream column
    pruning still reaches the scan.
    """
    from pyspark.sql import Window as W

    words = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(words_expr(F.col(text_col))).alias("__pos", "__w0"))
    win = W.partitionBy("__id").orderBy("__pos")
    leads = [F.col("__w0")] + [F.lead("__w0", i).over(win).alias(f"__w{i}")
                               for i in range(1, n)]
    led = words.select("__id", *leads)
    gram = F.when(F.col(f"__w{n - 1}").isNotNull(),
                  F.concat_ws(" ", *[f"__w{i}" for i in range(n)]))
    return (led.select(F.col("__id").alias(id_col), gram.alias("gram"))
            .filter(F.col("gram").isNotNull()))


def unicode_nfc_udf():
    """Arrow-batched NFC normalization (r5) — the canonical-composition
    pass every multilingual ingest runs first, so that byte-level
    dedup/fingerprints agree across sources that ship the same text in
    composed vs decomposed form.

    Why a pandas_udf: Spark has no built-in Unicode-normalization
    expression (this is exactly the "UDF only where built-ins can't"
    case). pandas ``Series.str.normalize`` runs ICU-equivalent stdlib
    NFC over the whole Arrow batch.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: the closure imports pandas locally, so hint
    # inference fails (same note as gram_coverage_stats_udf)
    def _nfc(s):
        return s.str.normalize("NFC")

    return pandas_udf(_nfc, "string")


def strip_accents_udf():
    """Arrow-batched accent folding (r5): NFD-decompose, drop combining
    marks (Unicode category Mn), recompose — the standard
    accent-insensitive matching/dedup key (DuckDB's ``strip_accents``
    has the same observable behavior on Latin text, which is what the
    q28 oracle cross-checks).

    The per-string loop runs INSIDE the Arrow batch (combining-mark
    category lookups are per-codepoint by nature); transfer is still
    columnar and the op stays embarrassingly parallel per partition.
    """
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _strip_one(s):
        if s is None:
            return None
        return unicodedata.normalize(
            "NFC",
            "".join(c for c in unicodedata.normalize("NFD", s)
                    if not unicodedata.combining(c)))

    def _strip(s):
        return s.map(_strip_one)

    return pandas_udf(_strip, "string")


# ---------------------------------------------------------------------------
# BPE merge learning (Sennrich et al. 2016) — tokenizer training as a
# distributed iterative aggregation. r5 session 3.
# ---------------------------------------------------------------------------


def _merge_pair_fold(syms: Column, left: Column, right: Column) -> Column:
    """Apply ONE BPE merge (left,right)→left||right over a symbol
    array with canonical leftmost non-overlapping semantics, as a pure
    JVM-side fold: walk the array, and when the accumulator's last
    element is ``left`` and the current is ``right``, replace the last
    with the merged symbol, else append.

    No re-merge flag is needed: a just-merged last element equals
    left||right, which can never equal ``left`` (right is non-empty) —
    so [a a a] under (a,a) folds to [aa a], exactly canonical BPE.
    Quadratic in word length (array copy per step) — words are short;
    this keeps the whole training loop in whole-stage codegen instead
    of a Python seam.
    """
    merged = F.concat(left, right)
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left) & (x == right),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))))


def _adjacent_pairs(words: "DataFrame") -> "DataFrame":
    """(l, r, weight) for every adjacent symbol pair, weighted by word
    frequency — the count step of one BPE iteration."""
    n1 = F.size("syms") - 1
    pairs = F.zip_with(
        F.slice("syms", F.lit(1), n1), F.slice("syms", F.lit(2), n1),
        lambda x, y: F.struct(x.alias("l"), y.alias("r")))
    return (words.filter(F.size("syms") >= 2)
            .select("weight", F.explode(pairs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("weight").alias("pair_weight")))


_BPE_SCHEMA = ("step int, l string, r string, merged string, "
               "pair_weight bigint")


def _bpe_fit_vocab(vocab: "dict[tuple, int]",
                   n_merges: int) -> "list[tuple]":
    """Canonical Sennrich BPE over a collected (symbols → weight)
    vocabulary: overlapping adjacent-pair counts, (count desc, l asc,
    r asc) tie-break, leftmost non-overlapping merge apply — the
    exact contract of the distributed loop below (pinned equal in
    tests/test_textual.py)."""
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple, int] = {}
        for syms, c in vocab.items():
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + c
        if not counts:
            break
        (l, r), w = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, l, r, l + r, w))
        new_vocab: dict[tuple, int] = {}
        for syms, c in vocab.items():
            out: list = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            k = tuple(out)
            new_vocab[k] = new_vocab.get(k, 0) + c
        vocab = new_vocab
    return merges


def bpe_learn_merges(docs: "DataFrame", text_col: str,
                     n_merges: int = 8,
                     driver_fit_max_vocab: int | None = None
                     ) -> "DataFrame":
    """Learn ``n_merges`` BPE merge rules from a corpus
    → (step, l, r, merged, pair_weight), step 1-based in learn order.

    Each iteration: weighted adjacent-pair counts over the distinct
    WORD table (not the corpus — frequencies ride as weights, the
    standard trick that makes cost O(vocab), not O(tokens)), argmax
    with deterministic (count desc, l asc, r asc) tie-break as a
    1-row TakeOrdered, then the merge applied corpus-wide by the
    codegen fold above. localCheckpoint per round cuts the lineage
    like every iterative operator here.

    The argmax row IS collected to the driver (``take(1)``): the
    merge list is the fitted MODEL — a bounded driver-side artifact
    by definition, exactly like ``bpe_apply_expr`` consumes it — so
    one row per round is the estimator contract, not a data
    collect. (r7: the previous shape also materialized the argmax,
    via localCheckpoint + an exhaustion-check take, THEN re-attached
    it with a crossJoin — two extra jobs per round for the same
    driver round-trip; the q61 slot spent more wall time scheduling
    BPE's 24 tiny jobs than executing every retrieval part.)

    100 TB notes: the word table after the first groupBy is vocab-
    sized (millions, not billions); each round is one explode +
    aggregate + TakeOrdered job over it. Tokenizer training is
    inherently sequential in the merge list — the parallelism is
    within rounds, as in every published distributed BPE.
    ``driver_fit_max_vocab``: the bounded-sample fast path. One
    distributed word-count aggregate, then — if the DISTINCT vocab
    fits the threshold — the merge loop runs driver-side over the
    collected (word, weight) table via :func:`_bpe_fit_vocab` (same
    tie-break and leftmost-non-overlapping apply; the fitted MODEL is
    a bounded driver artifact either way). Tokenizer training in
    production runs on a fixed sample of the corpus, and the
    iterative per-round Spark jobs are pure scheduling overhead at
    sample scale: the q61 leg (500 docs → 31-word vocab) fits in one
    job + one ≤vocab collect instead of 8 rounds × 2 jobs. Vocabs
    over the threshold fall through to the distributed loop, which
    stays the corpus-scale default; the probed word table is
    persisted first so the fallback reuses the counted aggregate
    instead of paying a second corpus pass (r8 ADVICE). Symbol
    inventory parity (r9, resolving the r8 ADVICE caveat): the
    driver path iterates Python code points, and the distributed
    ``F.split(word, '')`` ALSO yields code points — Java's regex
    empty-pattern split is surrogate-pair-aware (measured on Spark
    4.1: ``split('𝕏a', '')`` → ``['𝕏', 'a']``, not UTF-16 halves) —
    so the two paths learn identical merges on astral-plane input;
    tests/test_textual.py pins that equality on a U+1D54F corpus.
    Rows-only operator (no SQL oracle): the loop is iterative with a
    data-dependent argmax; pinned instead against a pure-Python
    reference BPE in tests/test_textual.py (which also pins the
    driver path equal to the distributed one).
    """

    spark_ = docs.sparkSession
    wt = (docs
          .select(F.explode(F.split(F.lower(F.col(text_col)),
                                    WS_SPLIT)).alias("word"))
          .filter(F.col("word") != "")
          .groupBy("word").agg(F.count(F.lit(1)).alias("weight")))
    if driver_fit_max_vocab:
        # persist BEFORE the probe: take() executes the full word-count
        # aggregate, and without the cache the over-threshold fallback
        # would rebuild it from the raw corpus — one wasted pass on
        # exactly the large-vocab case the threshold protects.
        wt = cache.persist(wt)
        head = wt.take(driver_fit_max_vocab + 1)
        if len(head) <= driver_fit_max_vocab:
            vocab = {tuple(r["word"]): r["weight"] for r in head}
            return spark_.createDataFrame(
                _bpe_fit_vocab(vocab, n_merges), _BPE_SCHEMA)
    words = wt.select(F.split("word", "").alias("syms"), "weight")
    words = words.localCheckpoint(eager=False)
    spark = docs.sparkSession
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        got = (_adjacent_pairs(words)
               .orderBy(F.col("pair_weight").desc(),
                        F.col("l").asc(), F.col("r").asc())
               .take(1))                      # TakeOrderedAndProject
        if not got:            # vocabulary exhausted (no pairs left)
            break
        l, r, w = got[0]["l"], got[0]["r"], got[0]["pair_weight"]
        merges.append((step, l, r, l + r, w))
        # LAZY checkpoints (r8): eager ones cost one extra job per
        # round — 16 tiny jobs of pure scheduling for an 8-merge fit;
        # lazy still truncates lineage at the next round's take(1),
        # which materializes the checkpoint as part of the argmax job
        # (an AQE-off variant measured no better: per-round cost is
        # the ~0.4s two-stage job latency floor of local[32], not
        # adaptive re-planning)
        words = (words.select(
                     _merge_pair_fold(F.col("syms"), F.lit(l),
                                      F.lit(r)).alias("syms"),
                     "weight")
                 .localCheckpoint(eager=False))
    return spark.createDataFrame(
        merges, "step int, l string, r string, merged string, "
                "pair_weight bigint")


def bpe_apply_expr(tokens: Column, merges: list[tuple[str, str]]) -> Column:
    """Tokenize a symbol array with an ALREADY-LEARNED merge list
    (applied in order) — the model-scoring side of BPE, chained
    codegen folds, no Python. ``merges`` is the small driver-side
    model artifact (like any fitted ML model's parameters)."""
    out = tokens
    for l, r in merges:
        out = _merge_pair_fold(out, F.lit(l), F.lit(r))
    return out


def distribution_drift(docs: "DataFrame", group_col: str,
                       text_col: str) -> "DataFrame":
    """Per-group token-distribution diagnostics for data-mixture
    monitoring → (group_col, n_tokens, entropy, kl_vs_corpus):
    Shannon entropy of the group's unigram distribution (nats) and
    KL(P_group ‖ P_corpus) — the drift number that says "this source's
    language is diverging from the mixture" before a model does.
    KL is finite by construction: every group token is also a corpus
    token, so p_corpus > 0 wherever p_group > 0.

    Plan shape: one token explode feeding three hash aggregates
    (corpus totals ride as a broadcast 1-row frame; corpus per-token
    counts join the group counts on token), then a per-group sum —
    two shuffles on token, one on group. Formula arrangement is
    mirrored verbatim in the q36 oracle (``s*1.0/ng`` then a single
    ln) so the doubles agree to rounding.
    """
    toks = (docs
            .select(F.col(group_col).alias("g"),
                    F.explode(F.split(F.lower(F.col(text_col)),
                                      WS_SPLIT)).alias("token"))
            .filter(F.col("token") != ""))
    ct = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    nt = toks.agg(F.count(F.lit(1)).alias("n"))
    st = toks.groupBy("g", "token").agg(F.count(F.lit(1)).alias("s"))
    ns = toks.groupBy("g").agg(F.count(F.lit(1)).alias("ng"))
    ps = F.col("s") * 1.0 / F.col("ng")
    pc = F.col("c") * 1.0 / F.col("n")
    return (st.join(ns, "g").join(ct, "token")
            .crossJoin(F.broadcast(nt))
            .groupBy("g", "ng")
            .agg((-F.sum(ps * F.log(ps))).alias("entropy"),
                 F.sum(ps * F.log(ps / pc)).alias("kl_vs_corpus"))
            .select(F.col("g").alias(group_col),
                    F.col("ng").alias("n_tokens"),
                    "entropy", "kl_vs_corpus"))


def bm25_topk(docs: "DataFrame", queries: list[tuple[str, list[str]]],
              id_col: str = "doc_id", text_col: str = "text",
              k: int = 5, k1: float = 1.2, b: float = 0.75,
              min_term_len: int = 2, tf: "DataFrame" = None) -> "DataFrame":
    """BM25 ranked retrieval: top-``k`` documents per query.

    The inverted-index operator family the reference's aggregation
    surface lacks, built as pure relational algebra so the q61 oracle
    re-derives every score. Per (query, doc):

        score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
        idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))   (Robertson/Lucene
                                                      form, ≥ 0 always)

    ``dl`` counts tokens of length ≥ ``min_term_len`` (the same stream
    term frequencies are built from, so length normalization and tf use
    one tokenization contract).

    Returns (query_id, doc_id, doc_len, n_matched_terms, score, rnk)
    with rnk assigned on (round(score, 4) DESC, doc_id) — ranking on
    the ROUNDED score is deliberate: both engines agree on 4 decimals
    by the float discipline, so the rank is cross-engine deterministic
    even where unrounded doubles differ in the last ulp.

    100 TB notes: the postings table (tf per doc-term) is the
    inverted index; the query table is tiny and broadcast, so ONLY
    postings matching query terms survive the join — the full index is
    never shuffled (the classic term-at-a-time evaluation). df and
    corpus stats are vocab-sized / 1-row broadcast aggregates. Skew:
    a stop-word query term touches its full posting list by necessity;
    the per-(query, doc) aggregate then shuffles at most
    |queries|·|matched docs| rows, and top-k is a window per query —
    replaceable by TakeOrderedAndProject per query at extreme scale.

    ``tf``: a precomputed ``doc_term_freqs`` table (same
    min_term_len); None builds it here. Doc length is derived FROM
    the tf table (Σ tf per doc ≡ the filtered token count), so the
    shared table carries the whole operator.
    """
    from pyspark.sql import Window as W

    if tf is None:
        tf = doc_term_freqs(docs, id_col, text_col, min_term_len)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    df_tab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    spark = docs.sparkSession
    qrows = [(qid, t) for qid, terms in queries for t in terms]
    qdf = spark.createDataFrame(qrows, ["query_id", "term"])

    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = F.col("tf") * (k1 + 1.0) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    scored = (tf.join(F.broadcast(qdf), "term")
              .join(F.broadcast(df_tab), "term")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .groupBy("query_id", "doc_id")
              .agg(F.any_value("dl").alias("doc_len"),
                   F.count(F.lit(1)).alias("n_matched_terms"),
                   F.round(F.sum(idf * norm), 4).alias("score")))
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(),
                                          F.col("doc_id"))
    return (scored.withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= int(k)))


def retrieval_eval(ranked: "DataFrame", cand: "DataFrame",
                   k: int = 5,
                   ranked_rel_col: str = "n_matched_terms",
                   rel_col: str = "rel") -> "DataFrame":
    """Graded retrieval-quality metrics per query — the evaluation
    half of the retrieval surface (a ranking you cannot score is a
    ranking you cannot tune):

    * nDCG@k of ``ranked`` (the system's top-k with a graded
      relevance column) against the IDEAL ordering of ``cand`` (the
      full candidate set with the same grades): exponential gains
      (2^rel − 1), log2 position discount, deterministic ideal
      tie-break (rel DESC, doc_id).
    * max-grade recall@k: of all candidates achieving the query's
      maximum grade, how many made the top-k — the "did the best
      answers surface" number that precision-style metrics miss when
      many documents tie at the top grade.

    Gains use integer shiftleft (exact on both engines — no libm
    pow); DCG sums run over ≤ k terms, so the 4 dp rounding grid
    sits far above any summation-order drift.

    Returns (query_id, dcg, idcg, ndcg, mx, n_rel_max, n_hit_max,
    recall_max). Plan: one window over candidates per query (ideal
    ranks) + three small grouped aggregates; with query counts in
    the hundreds everything after the candidate join is
    broadcast-sized.
    """
    from pyspark.sql import Window as W

    # SQL shiftleft (the Python helper wants a literal bit count)
    gain_r = F.expr(
        f"cast(shiftleft(1, cast({rel_col} as int)) - 1 as double)")
    gain_s = F.expr(
        f"cast(shiftleft(1, cast({ranked_rel_col} as int)) - 1"
        " as double)")
    wi = W.partitionBy("query_id").orderBy(F.col(rel_col).desc(),
                                           "doc_id")
    idcg = (cand.withColumn("irnk", F.row_number().over(wi))
            .filter(F.col("irnk") <= int(k))
            .groupBy("query_id")
            .agg(F.sum(gain_r / F.log2(F.col("irnk") + 1))
                 .alias("idcg")))
    dcg = (ranked.filter(F.col("rnk") <= int(k))
           .groupBy("query_id")
           .agg(F.sum(gain_s / F.log2(F.col("rnk") + 1)).alias("dcg")))
    mx = cand.groupBy("query_id").agg(F.max(rel_col).alias("mx"))
    n_rel = (cand.join(F.broadcast(mx), "query_id")
             .filter(F.col(rel_col) == F.col("mx"))
             .groupBy("query_id")
             .agg(F.any_value("mx").alias("mx"),
                  F.count(F.lit(1)).alias("n_rel_max")))
    n_hit = (ranked.join(F.broadcast(mx), "query_id")
             .filter((F.col("rnk") <= int(k))
                     & (F.col(ranked_rel_col) == F.col("mx")))
             .groupBy("query_id")
             .agg(F.count(F.lit(1)).alias("n_hit_max")))
    return (dcg.join(idcg, "query_id")
            .join(n_rel, "query_id")
            .join(n_hit, "query_id", "left")
            .select("query_id", "dcg", "idcg",
                    F.when(F.col("idcg") > 0,
                           F.col("dcg") / F.col("idcg")).alias("ndcg"),
                    "mx", "n_rel_max",
                    F.coalesce("n_hit_max", F.lit(0))
                    .alias("n_hit_max"),
                    (F.coalesce("n_hit_max", F.lit(0))
                     / F.col("n_rel_max")).alias("recall_max")))


def term_match_topk(docs: "DataFrame", queries: list[tuple[str, list[str]]],
                    id_col: str = "doc_id", text_col: str = "text",
                    k: int = 5, min_term_len: int = 2,
                    tf: "DataFrame" = None) -> "DataFrame":
    """Coordination-level ranking: top-``k`` documents per query by
    total term frequency of matched query terms — the cheap boolean-
    retrieval baseline BM25 is usually fused against. Same
    tokenization contract as ``bm25_topk`` (one shared stream
    definition), same plan shape: broadcast query table onto the
    postings, one grouped sum, window top-k. Integer scores, so the
    (score DESC, doc_id) rank needs no float discipline at all.

    Returns (query_id, doc_id, match_tf, rnk).

    ``tf``: a precomputed ``doc_term_freqs`` table (same
    min_term_len); None builds it here.
    """
    from pyspark.sql import Window as W

    if tf is None:
        tf = doc_term_freqs(docs, id_col, text_col, min_term_len)
    spark = docs.sparkSession
    qrows = [(qid, t) for qid, terms in queries for t in terms]
    qdf = spark.createDataFrame(qrows, ["query_id", "term"])
    scored = (tf.join(F.broadcast(qdf), "term")
              .groupBy("query_id", "doc_id")
              .agg(F.sum("tf").alias("match_tf")))
    w = W.partitionBy("query_id").orderBy(F.col("match_tf").desc(),
                                          F.col("doc_id"))
    return (scored.withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= int(k)))


def bigram_doc_scores(docs: "DataFrame", id_col: str = "doc_id",
                      text_col: str = "text") -> "DataFrame":
    """Per-document mean ln p(w_i | w_{i−1}) under the corpus bigram
    LM, plus perplexity exp(−mean) — the step up from the unigram
    quality proxy (q74's ``unigram_doc_scores``): repetitive or
    formulaic text scores HIGH (predictable transitions), incoherent
    token soup scores LOW, which is exactly the CCNet/Gopher-style
    LM-quality axis.

    MLE estimates, p = c(w_{i−1} w_i) / c_prefix(w_{i−1}), with NO
    smoothing — sound here because the corpus scores ITSELF, so every
    scored bigram was seen at least once (a held-out scorer would add
    add-k; documented, not needed for the quality-filter use). Docs
    with fewer than 2 tokens are omitted (no bigrams to score).

    Plan: bigrams come from a shuffle-free arrays_zip of the word
    array against its own tail (no posexplode + per-doc window sort);
    the bigram and prefix count tables are token-keyed aggregates the
    occurrence stream then joins — the same inverted-index shape as
    bm25. Returns (doc_id, bigram_logprob, bigram_ppl, n_bigrams);
    the q74 oracle re-derives every score from the same token stream.
    """
    w = words_expr(F.col(text_col))
    sz = F.size(w)
    occ = (docs.filter(sz >= 2)
           .select(F.col(id_col).alias("doc_id"),
                   F.explode(F.arrays_zip(
                       F.slice(w, 1, sz - 1).alias("t"),
                       F.slice(w, 2, sz - 1).alias("nxt"))).alias("p"))
           .select("doc_id", F.col("p.t").alias("t"),
                   F.col("p.nxt").alias("nxt")))
    bgc = occ.groupBy("t", "nxt").agg(F.count(F.lit(1)).alias("c"))
    prec = bgc.groupBy("t").agg(F.sum("c").alias("pc"))
    scored = (occ.join(bgc, ["t", "nxt"]).join(prec, "t")
              .groupBy("doc_id")
              .agg(F.avg(F.log(F.col("c") / F.col("pc")))
                   .alias("bigram_logprob"),
                   F.count(F.lit(1)).alias("n_bigrams")))
    return scored.withColumn("bigram_ppl",
                             F.exp(-F.col("bigram_logprob")))


def phrase_search(docs: "DataFrame", phrases: list[tuple[str, list[str]]],
                  id_col: str = "doc_id", text_col: str = "text",
                  min_term_len: int = 0) -> "DataFrame":
    """Exact phrase search over a POSITIONAL inverted index: for each
    (phrase_id, [t1..tk]) count occurrences of the consecutive token
    sequence per document — the retrieval op BM25's bag-of-words
    scoring cannot express.

    Plan: one posexplode builds the positional postings once; each
    phrase filters its k term posting lists (broadcast literals) and
    equi-joins them on (doc, pos+i) — k−1 joins per phrase keyed on
    (doc_id, position), each join's inputs already pruned to single
    terms' postings. That is the classic positional-index phrase
    plan: work is O(Σ postings of the phrase's terms), never a scan
    of the corpus per phrase. Returns (phrase_id, doc_id, n_matches)
    for docs with ≥ 1 match.
    """
    tokens = (docs.select(F.col(id_col).alias("doc_id"),
                          F.posexplode(words_expr(F.col(text_col)))
                          .alias("pos", "term"))
              .filter(F.length("term") >= min_term_len))
    outs = []
    for pid, terms in phrases:
        if not terms:
            raise ValueError(f"empty phrase {pid!r}")
        m = (tokens.filter(F.col("term") == terms[0])
             .select("doc_id", F.col("pos").alias("p0")))
        for i, t in enumerate(terms[1:], start=1):
            nxt = (tokens.filter(F.col("term") == t)
                   .select("doc_id", (F.col("pos") - i).alias("p0")))
            m = m.join(nxt, ["doc_id", "p0"])
        outs.append(m.groupBy("doc_id")
                    .agg(F.count(F.lit(1)).alias("n_matches"))
                    .select(F.lit(pid).alias("phrase_id"),
                            "doc_id", "n_matches"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def nb_language_classifier(docs, text_col: str = "text",
                           label_col: str = "lang",
                           id_col: str = "doc_id", n_folds: int = 5,
                           test_fold: int = 0,
                           micro: int = 1_000_000,
                           top_tokens: int = 3,
                           salt: str = "nb") -> dict:
    """Multinomial Naive Bayes text classifier — the LEARNED companion
    to the marker-list lang-id heuristic (``lang_id_expr``), and the
    shape of the fastText-style quality/language classifiers used to
    filter LLM pre-training corpora (C4 / CCNet / DCLM). Train, score
    and evaluate run entirely as relational algebra: no MLlib, no UDF,
    no collect — the "model" IS a pair of domain-sized DataFrames.

    Pipeline (one corpus tokenization total):

    1. Deterministic fold split: md5(salt:doc_id) mod ``n_folds``;
       fold ``test_fold`` is held out (the q62 hash-split discipline).
    2. ``tf``: the (doc, label, is_test, token, tf) table — lower-cased
       whitespace tokens (``WS_SPLIT``), empty tokens dropped. Persisted;
       every later table derives from it (train counts AND test scoring),
       so the corpus is scanned once.
    3. Model: per-(label, token) counts ``n_tc``, per-label totals
       ``n_c``, vocab size ``V`` (distinct TRAIN tokens), doc-count
       priors. Add-one smoothing:  p(t|c) = (n_tc + 1) / (n_c + V).
    4. Scoring: dense (vocab × labels) log-likelihood table joined onto
       the test fold's tf stream; per-(doc, label) BIGINT sums; argmax.
       Out-of-vocabulary test tokens drop out of the join (the standard
       multinomial-NB convention — they carry no class evidence).
       Zero-token docs never enter ``tf``: the model neither trains on
       nor scores them (documented convention, mirrored by the oracle).

    Determinism contract (micro-int quantization — the q56/q07-cmat
    discipline): log-priors and per-(token, label) log-likelihoods are
    quantized to integer micro-nats (``ROUND(ln(p) * micro)``) BEFORE
    any summation, so document scores are exact BIGINT sums — invariant
    to partition order — and the argmax is an integer comparison with a
    label-ascending tie-break. The only libm op is ln on ratios of
    exact integers, identical on both engines to ~1 ulp, 9 orders of
    magnitude inside the micro grid.

    Returns dict of DataFrames:

    * ``pred``  — (doc_id, true_lbl, pred_lbl, scoreq) for the test fold
      (persisted: confusion/accuracy/per-class metrics all reread it).
    * ``classes`` — (lbl, n_train_docs) — the label domain.
    * ``model`` — 1 row (v, n_train_docs, n_train_tokens).
    * ``top``   — (lbl, token, rank, lo_micro): per-label top-``top_tokens``
      tokens by smoothed one-vs-rest log-odds
      ln((n_tc+1)/(n_c+V)) − ln((n_t_rest+1)/(n_rest+V)),
      micro-quantized; ties break token-ascending.

    100 TB notes: the corpus is touched by exactly one tokenize +
    group (tf, corpus-sized, persisted — at cluster scale use
    MEMORY_AND_DISK or materialize to parquet); everything else is
    domain-sized (vocab × |classes|) or fold-sized. The ll table
    broadcasts while vocab × classes fits (~10⁷ rows); beyond that the
    score join becomes an ordinary shuffle join keyed on token —
    both plans are one pass over the test fold's tokens.
    """

    fold = (F.conv(F.substring(
                F.md5(F.concat(F.lit(salt + ":"),
                               F.col(id_col).cast("string"))), 1, 8),
                16, 10).cast("bigint") % n_folds)
    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(label_col).alias("lbl"),
                       (fold == test_fold).alias("is_test"),
                       F.col(text_col).alias("text"))
    tf = (base.select("doc_id", "lbl", "is_test",
                      F.explode(words_expr(F.col("text"))).alias("token"))
          .filter(F.col("token") != "")
          .groupBy("doc_id", "lbl", "is_test", "token")
          .agg(F.count(F.lit(1)).alias("tf")))
    tf = cache.persist(tf)

    # --- train: count tables (all derived from tf, no new scan) ---
    ct = (tf.filter(~F.col("is_test"))
          .groupBy("lbl", "token").agg(F.sum("tf").alias("n_tc")))
    ct = cache.persist(ct)          # vocab × classes upper bound
    tot = ct.groupBy("lbl").agg(F.sum("n_tc").alias("n_c"))
    vn = ct.select("token").distinct().agg(F.count(F.lit(1)).alias("v"))
    # doc-level table feeds priors, the test grid AND the per-class
    # metrics — persist (|docs| rows) so the distinct over the
    # corpus-sized tf table runs once
    docs_t = cache.persist(
        tf.select("doc_id", "lbl", "is_test").distinct())
    classes = (docs_t.filter(~F.col("is_test"))
               .groupBy("lbl").agg(F.count(F.lit(1)).alias("n_train_docs")))
    n_train = classes.agg(F.sum("n_train_docs").alias("nd"))
    pri = (classes.crossJoin(F.broadcast(n_train))
           .select("lbl",
                   F.round(F.log(F.col("n_train_docs")
                                 / F.col("nd")) * micro)
                   .cast("long").alias("priq")))

    # --- dense (vocab × labels) micro-nat log-likelihoods ---
    ll = (ct.select("token").distinct()
          .crossJoin(F.broadcast(tot))
          .join(ct, ["lbl", "token"], "left")
          .crossJoin(F.broadcast(vn))
          .select("lbl", "token",
                  F.round(F.log((F.coalesce(F.col("n_tc"), F.lit(0)) + 1.0)
                                / (F.col("n_c") + F.col("v"))) * micro)
                  .cast("long").alias("llq")))

    # --- score the held-out fold ---
    ll_c = ll.select("token", F.col("lbl").alias("cls"), "llq")
    evq = (tf.filter(F.col("is_test"))
           .join(F.broadcast(ll_c), "token")
           .groupBy("doc_id", F.col("lbl").alias("true_lbl"), "cls")
           .agg(F.sum(F.col("tf") * F.col("llq")).alias("evq")))
    # ensure every (test doc × class) pair exists, evidence or not
    grid = (docs_t.filter(F.col("is_test"))
            .select("doc_id", F.col("lbl").alias("true_lbl"))
            .crossJoin(F.broadcast(pri.select(F.col("lbl").alias("cls"),
                                              "priq"))))
    scored = (grid.join(evq, ["doc_id", "true_lbl", "cls"], "left")
              .select("doc_id", "true_lbl", "cls",
                      (F.coalesce(F.col("evq"), F.lit(0))
                       + F.col("priq")).alias("scoreq")))
    from pyspark.sql import Window as W
    rn = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("scoreq").desc(),
                                        F.col("cls").asc()))
    pred = (scored.withColumn("rn", rn).filter(F.col("rn") == 1)
            .select("doc_id", "true_lbl",
                    F.col("cls").alias("pred_lbl"), "scoreq"))
    pred = cache.persist(pred)

    model = (vn.crossJoin(n_train)
             .crossJoin(ct.agg(F.sum("n_tc").alias("n_train_tokens")))
             .select("v", F.col("nd").alias("n_train_docs"),
                     "n_train_tokens"))

    # --- one-vs-rest log-odds over OBSERVED (label, token) pairs ---
    tok_tot = ct.groupBy("token").agg(F.sum("n_tc").alias("n_t_all"))
    all_tot = tot.agg(F.sum("n_c").alias("n_all"))
    lo = (ct.join(tok_tot, "token")
          .join(F.broadcast(tot), "lbl")
          .crossJoin(F.broadcast(all_tot))
          .crossJoin(F.broadcast(vn))
          .select("lbl", "token",
                  F.round((F.log((F.col("n_tc") + 1.0)
                                 / (F.col("n_c") + F.col("v")))
                           - F.log((F.col("n_t_all") - F.col("n_tc") + 1.0)
                                   / (F.col("n_all") - F.col("n_c")
                                      + F.col("v")))) * micro)
                  .cast("long").alias("lo_micro")))
    top = (lo.withColumn(
               "rank", F.row_number().over(
                   W.partitionBy("lbl").orderBy(F.col("lo_micro").desc(),
                                                F.col("token").asc())))
           .filter(F.col("rank") <= top_tokens)
           .select("lbl", "token", "rank", "lo_micro"))

    return {"pred": pred, "classes": classes, "model": model, "top": top}


def dsir_importance_scores(docs: "DataFrame", is_target: Column,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           n_buckets: int = 256) -> "DataFrame":
    """DSIR-style hashed-n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    public paper) — THE modern pretraining data-selection op: score
    every raw document by how much more likely its features are under
    a TARGET corpus distribution than under the raw distribution,
    then keep the highest-weight docs.

    Both distributions are bag-of-hashed-word-bigram models (the
    paper's hashed n-gram feature space): bigrams hash into
    ``n_buckets`` buckets, each corpus's bucket probabilities are
    add-1-smoothed MLE counts, and a document's weight is the MEAN
    per-gram log-ratio ln p_target(b) − ln p_raw(b) (mean rather than
    the paper's sum so the score is length-invariant — the selection
    RANKING is what the op exists for). ``is_target`` is any boolean
    Column over ``docs`` defining the target slice (e.g. a trusted
    source or language); the raw distribution is the whole corpus.

    md5-derived bucket ids (``hashed_weight_expr``'s idiom), so any
    engine — including the DuckDB oracle — reproduces every bucket,
    every smoothed probability, and every score bit-for-bit from the
    same token stream. Docs with < 2 tokens have no features and are
    omitted.

    Division of labor vs ``cleaning.dsir_select`` (q11): that op is
    the SAMPLING end — hashed-unigram features, summed log-weights,
    Gumbel top-k draw without replacement. This op is the
    DIAGNOSTIC/REWEIGHTING end — bigram features (the paper's
    stronger hashed n-gram space), a returned inspectable model
    table, and length-invariant mean scores meant for per-source
    mixture readouts and deterministic head selection (q36's legs),
    not for probabilistic resampling.

    Plan shape (all relational, zero Python): bigrams from the
    shuffle-free arrays_zip-against-tail (``bigram_doc_scores``'s
    extraction), ONE bucket-keyed aggregate counting raw and target
    occurrences together (map-side combinable; ≤ ``n_buckets`` rows
    out), the log-ratio table broadcast back onto the occurrence
    stream, one doc-keyed aggregate. 100 TB: the model table is
    n_buckets rows REGARDLESS of corpus size — the whole "fit" rides
    a broadcast; scoring is a map-side join + per-doc combine, the
    same cost as tokenizing the corpus once.

    Returns ``(scores, model)``: the (doc_id, dsir_score, n_grams)
    frame and the fitted (bkt, rc, tc, lr) bucket table (≤ n_buckets
    rows — the inspectable "model").
    """
    w = words_expr(F.col(text_col))
    sz = F.size(w)
    occ = (docs.filter(sz >= 2)
           .select(F.col(id_col).alias("doc_id"),
                   is_target.cast("boolean").alias("is_t"),
                   F.explode(F.arrays_zip(
                       F.slice(w, 1, sz - 1).alias("a"),
                       F.slice(w, 2, sz - 1).alias("b"))).alias("p"))
           .select("doc_id", "is_t",
                   (F.conv(F.substring(
                       F.md5(F.concat_ws(" ", F.col("p.a"),
                                         F.col("p.b"))), 1, 8),
                       16, 10).cast("long") % n_buckets).alias("bkt")))
    bc = occ.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("rc"),
        F.count(F.when(F.col("is_t"), 1)).alias("tc"))
    tot = bc.agg(F.sum("rc").alias("rtot"), F.sum("tc").alias("ttot"))
    b = F.lit(float(n_buckets))

    # persisted (2ce67ee's lesson): AQE never folds identical sibling
    # subtrees, so the ≤n_buckets-row model and the per-doc score
    # table would otherwise re-run the whole tokenize→hash→aggregate
    # chain once per consumer (the q36 legs read each of them twice)
    lr = cache.persist(
        bc.crossJoin(F.broadcast(tot))
        .select("bkt", "rc", "tc",
                (F.log((F.col("tc") + 1.0) / (F.col("ttot") + b))
                 - F.log((F.col("rc") + 1.0) / (F.col("rtot") + b)))
                .alias("lr")))
    scores = cache.persist(
        occ.join(F.broadcast(lr.select("bkt", "lr")), "bkt")
        .groupBy("doc_id")
        .agg(F.avg("lr").alias("dsir_score"),
             F.count(F.lit(1)).alias("n_grams")))
    return scores, lr


def mmr_select(cands: "DataFrame", sims: "DataFrame",
               lam: float = 0.7, mu: float = 0.3,
               k: int = 5) -> "DataFrame":
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity-aware selection step a retrieval/RAG
    pipeline runs on a candidate list: greedily pick the doc
    maximizing ``lam·rel − mu·max_sim_to_already_selected``, so
    near-duplicate hits stop crowding out coverage.

    ``cands``: (query_id, doc_id, rel); ``sims``: (query_id, doc_a,
    doc_b, sim) with doc_a < doc_b (missing pair ⇒ similarity 0).
    ``lam``/``mu`` are SEPARATE literals, not λ/1−λ: IEEE ``1 − 0.7``
    is 0.30000000000000004, and the greedy argmax must compute the
    EXACT same doubles as the oracle's unrolled SQL — both engines
    multiply the same literal. Ties break toward the min doc_id.

    Greedy selection is inherently sequential in k but independent
    per query — the grouped-graph-op shape: cogroup both inputs by
    query_id and run the k steps in plain Python per group
    (candidate lists are top-k-sized by construction; the sims table
    is O(k²) per query). 100 TB: candidates per query are bounded by
    the upstream top-k, so group size never scales with the corpus —
    the expensive parts (ranking, pairwise sims) stay relational.

    Returns (query_id, step, doc_id, mmr_score), step = 1..k in
    selection order.
    """

    def _greedy(cpdf, spdf):
        import pandas as pd

        if len(cpdf) == 0:
            return pd.DataFrame({"query_id": pd.Series(dtype="object"),
                                 "step": pd.Series(dtype="int32"),
                                 "doc_id": pd.Series(dtype="int64"),
                                 "mmr_score": pd.Series(dtype="float64")})
        qid = cpdf["query_id"].iloc[0]
        rel = dict(zip((int(d) for d in cpdf["doc_id"]),
                       (float(r) for r in cpdf["rel"])))
        sim: dict = {}
        for a, b, s in zip(spdf["doc_a"], spdf["doc_b"], spdf["sim"]):
            sim[(int(a), int(b))] = float(s)
            sim[(int(b), int(a))] = float(s)
        remaining = sorted(rel)
        selected: list[int] = []
        rows = []
        for step in range(1, min(k, len(rel)) + 1):
            best_d, best_s = None, None
            for d in remaining:           # ascending ⇒ min-id ties
                ms = 0.0
                for s in selected:
                    v = sim.get((d, s), 0.0)
                    if v > ms:
                        ms = v
                score = lam * rel[d] - mu * ms
                if best_s is None or score > best_s:
                    best_d, best_s = d, score
            rows.append((qid, step, best_d, best_s))
            selected.append(best_d)
            remaining.remove(best_d)
        return pd.DataFrame(rows, columns=["query_id", "step",
                                           "doc_id", "mmr_score"])

    return (cands.groupBy("query_id")
            .cogroup(sims.groupBy("query_id"))
            .applyInPandas(lambda c, s: _greedy(c, s),
                           "query_id string, step int, doc_id long, "
                           "mmr_score double"))
