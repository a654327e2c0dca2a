"""Text-analysis operators: tokenization, shingles, language ID, quality,
token counting, fingerprinting.

LLM-data-pipeline extension (no reference analogue — SURVEY.md §7 item 7).
Mostly JVM-side Catalyst expressions (split / transform / aggregate /
array_* higher-order functions); the shingle-hash chain additionally has
an Arrow-vectorized form (r13, default for n ≥ 2) because the zip-shift
higher-order chain is CodegenFallback — interpreted per element — while
the identical integer arithmetic runs as a handful of numpy ufunc passes
per batch (``shingle_hash64(method=...)`` keeps the pure-expression form
as an opt-in).

Design for 100 TB: all functions are row-local projections — no shuffle at
all. The only state is literal stopword arrays (constant-folded into the
plan).
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column as SparkCol, functions as F
from ons_utils_spark.functions.localrel import local_rows_df


def _col(c: Union[str, SparkCol]) -> SparkCol:
    return F.col(c) if isinstance(c, str) else c


def tokenize(text: Union[str, SparkCol]) -> SparkCol:
    """Lowercased whitespace tokens of ``text`` → ``array<string>``.

    Empty/blank text gives an empty array (``split`` on '' returns [''],
    which we filter).
    """
    toks = F.split(F.lower(F.trim(_col(text))), r"\s+")
    return F.filter(toks, lambda t: t != "")


def word_shingles(
    text: Union[str, SparkCol], n: int = 3, distinct: bool = True
) -> SparkCol:
    """``n``-token shingles ("w1 w2 w3" strings) → ``array<string>``.

    Documents shorter than ``n`` tokens give an empty array. With
    ``distinct=True`` the output is the shingle *set* (what Jaccard needs).
    """
    # Zip-shift construction: n-1 whole-array shifts + elementwise concat,
    # instead of one slice per position (slice(toks, i, n) allocates a new
    # array per element — measured 6.5x slower). zip_with pads the shorter
    # side with NULL and concat_ws skips NULLs, so the padded tail holds
    # partial shingles — the final slice to the valid length drops them.
    toks = tokenize(text)
    ln = F.size(toks)
    out = toks
    for k in range(2, n + 1):
        shifted = F.slice(toks, F.lit(k), F.greatest(ln - F.lit(k - 1), F.lit(0)))
        out = F.zip_with(out, shifted, lambda a, b: F.concat_ws(" ", a, b))
    valid = F.greatest(ln - F.lit(n - 1), F.lit(0))
    grams = F.when(valid > 0, F.slice(out, F.lit(1), valid)).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(grams) if distinct else grams


# XXH64 prime constants (public xxHash spec) — the same values
# plans/oracle_xxh64.py replays in SQL and operators/corpus.py uses for
# the vectorized Bloom probe.
_XXP1 = 11400714785074694791
_XXP2 = 14029467366897019727
_XXP3 = 1609587929392839161
_XXP4 = 9650029242287828579
_XXP5 = 2870177450012600261
_M64 = 1 << 64


def _hashlong_vec(value, seed):
    """Spark's ``xxhash64`` of ONE bigint under ``seed`` (XXH64's
    length-8 hashLong path) as numpy uint64 ufunc passes — ``value``
    is a uint64 array, ``seed`` a uint64 scalar or aligned array
    (multi-arg ``xxhash64(a, b)`` chains ``hashLong(b, hashLong(a,
    42))``, so the chain needs the vector-seed form). Wraparound
    multiply is the JVM's overflow semantics. Bit-identical to
    ``F.xxhash64`` (pinned in tests against the JVM and against
    ``corpus._xxh64_long_py``)."""
    import numpy as np

    with np.errstate(over="ignore"):
        k1 = value * np.uint64(_XXP2)
        k1 = (k1 << np.uint64(31)) | (k1 >> np.uint64(33))
        k1 = k1 * np.uint64(_XXP1)
        h = seed + np.uint64((_XXP5 + 8) & (_M64 - 1))
        h = h ^ k1
        h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * np.uint64(
            _XXP1
        ) + np.uint64(_XXP4)
        h ^= h >> np.uint64(33)
        h = h * np.uint64(_XXP2)
        h ^= h >> np.uint64(29)
        h = h * np.uint64(_XXP3)
        h ^= h >> np.uint64(32)
    return h


def _shingle_chain_udf(n: int, distinct: bool):
    """One Arrow pass deriving the ``n``-gram chain hashes from per-token
    hashes: ``array<bigint>`` token hashes in, ``array<bigint>`` shingle
    hashes out. Exact integer arithmetic identical to the zip-shift
    expression chain (:func:`_shingle_hash64_expr`): each window chains
    ``xxhash64(acc, next) = hashLong(next, hashLong(acc, 42))`` in the
    same order; the validity slice drops the padded tail exactly like
    the expression's ``slice(out, 1, greatest(size − n + 1, 0))``;
    ``distinct`` keeps FIRST occurrences in order like
    ``array_distinct``. NULL/short inputs give an empty array (the
    expression's CASE branch). Marked nondeterministic so a pushed-down
    filter on a derived column cannot duplicate the stage (guide §4.4).
    """
    import pandas as pd

    def fn(col):
        import numpy as np

        vals = col.to_numpy(dtype=object, copy=False)
        cnt = len(vals)
        sizes = np.fromiter(
            (0 if v is None else len(v) for v in vals),
            dtype=np.int64,
            count=cnt,
        )
        offsets = np.zeros(cnt + 1, dtype=np.int64)
        np.cumsum(sizes, out=offsets[1:])
        total = int(offsets[-1])
        out_sizes = np.maximum(sizes - (n - 1), 0)
        empty = np.empty(0, dtype=np.int64)
        if total == 0:
            return pd.Series([empty] * cnt, dtype=object)
        flat = np.concatenate(
            [
                np.asarray(v, dtype=np.int64)
                for v in vals
                if v is not None and len(v)
            ]
        ).view(np.uint64)
        acc = flat
        if n > 1:
            padded = np.concatenate(
                [flat, np.zeros(n - 1, dtype=np.uint64)]
            )
            acc = flat.copy()
            for k in range(1, n):
                # Windows whose shifted element crosses a document
                # boundary (or the padded tail) produce garbage here
                # and are dropped by the per-document validity slice.
                acc = _hashlong_vec(
                    padded[k:k + total],
                    _hashlong_vec(acc, np.uint64(42)),
                )
        grams = acc.view(np.int64)
        res = []
        for i in range(cnt):
            m_i = int(out_sizes[i])
            if m_i <= 0:
                res.append(empty)
                continue
            s = grams[offsets[i]:offsets[i] + m_i]
            if distinct:
                _, idx = np.unique(s, return_index=True)
                s = s[np.sort(idx)]
            res.append(s)
        return pd.Series(res, dtype=object)

    return F.pandas_udf(fn, "array<bigint>").asNondeterministic()


def _token_hash_expr(text: str) -> str:
    """The per-token xxhash64 projection as ONE SQL string (the plan-
    build fast path — a single py4j round-trip, see
    :func:`_shingle_hash64_expr`)."""
    return (
        f"transform(filter(split(lower(trim(`{text}`)), '\\\\s+'), "
        f"t -> t <> ''), t -> xxhash64(t))"
    )


def shingle_hash64(
    text: Union[str, SparkCol],
    n: int = 3,
    distinct: bool = True,
    method: str = "auto",
) -> SparkCol:
    """64-bit hashes of the ``n``-token shingles → ``array<long>``.

    The sketch-side twin of :func:`word_shingles` for operators that only
    need shingle IDENTITY (MinHash, SimHash, Jaccard counting): each token
    is hashed ONCE (xxhash64), then the windows chain
    ``xxhash64(acc, next)`` — the hot loop moves 8-byte longs instead of
    allocating an interned string per shingle, and everything downstream
    (distinct, group keys, shuffle rows) carries 8 bytes instead of the
    ~n·word_len string. Set identity matches the string form barring a
    ~2⁻⁶⁴ hash collision, so Jaccard over these sets equals Jaccard over
    string-shingle sets.

    ``method`` (r13, guide §4.2): ``"vector"`` keeps tokenize + the
    per-token string hash in the JVM and derives the chain in ONE Arrow
    pass per batch (only the ``array<bigint>`` token hashes cross the
    boundary) — the zip-shift expression chain is built from
    higher-order functions, which are CodegenFallback, so at ``n`` = 3-4
    it paid ~0.4-0.55 s of interpreted per-element lambda evaluation per
    corpus pass at sf0.1 where the Arrow chain pays ~6 vectorized ufunc
    passes. ``"expr"`` is the pure-expression form (no Python workers —
    the right call for tiny literal frames or streaming sinks that must
    stay expression-only); ``"auto"`` routes ``n >= 2`` to the vector
    path (at ``n = 1`` there is no chain to vectorize). Both produce
    bit-identical arrays (pinned in tests).
    """
    if method == "auto":
        method = "vector" if n >= 2 else "expr"
    if method == "vector":
        th = (
            F.expr(_token_hash_expr(text))
            if isinstance(text, str)
            else F.transform(tokenize(text), lambda t: F.xxhash64(t))
        )
        return _shingle_chain_udf(n, distinct)(th)
    if method != "expr":
        raise ValueError(
            f"unknown shingle_hash64 method {method!r} — expected "
            "'auto', 'vector', or 'expr'"
        )
    return _shingle_hash64_expr(text, n, distinct)


def _shingle_hash64_expr(
    text: Union[str, SparkCol], n: int = 3, distinct: bool = True
) -> SparkCol:
    """The pure-expression zip-shift form of :func:`shingle_hash64` —
    kept as the ``method="expr"`` opt-in and the bit-equality reference
    the vector path is pinned against."""
    if isinstance(text, str):
        # Fast path: the whole pipeline as ONE F.expr string — a single
        # py4j round-trip + server-side SQL parse instead of ~10 Column/
        # lambda constructions (~0.8 s of driver time per build at n=3,
        # measured; the build runs inside every bench timing). The parsed
        # tree is identical to the Column form below — Column reuse
        # already duplicates subtrees in Catalyst's expression TREE, so
        # repeating the `th` fragment in the string changes nothing
        # downstream (bit-identical signatures pinned in tests).
        th = (
            f"transform(filter(split(lower(trim(`{text}`)), '\\\\s+'), "
            f"t -> t <> ''), t -> xxhash64(t))"
        )
        out = th
        for k in range(2, n + 1):
            shifted = (
                f"slice({th}, {k}, greatest(size({th}) - {k - 1}, 0))"
            )
            out = f"zip_with({out}, {shifted}, (a, b) -> xxhash64(a, b))"
        valid = f"greatest(size({th}) - {n - 1}, 0)"
        grams = (
            f"CASE WHEN {valid} > 0 THEN slice({out}, 1, {valid}) "
            f"ELSE cast(array() as array<bigint>) END"
        )
        return F.expr(f"array_distinct({grams})" if distinct else grams)

    toks = tokenize(text)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    ln = F.size(th)
    out = th
    for k in range(2, n + 1):
        shifted = F.slice(th, F.lit(k), F.greatest(ln - F.lit(k - 1), F.lit(0)))
        out = F.zip_with(out, shifted, lambda a, b: F.xxhash64(a, b))
    valid = F.greatest(ln - F.lit(n - 1), F.lit(0))
    grams = F.when(valid > 0, F.slice(out, F.lit(1), valid)).otherwise(
        F.array().cast("array<long>")
    )
    return F.array_distinct(grams) if distinct else grams


def token_count(text: Union[str, SparkCol], mode: str = "whitespace") -> SparkCol:
    """Token count: ``whitespace`` split or ``bpe``-ish (word / punctuation
    runs via ``\\w+|[^\\w\\s]`` — the pre-tokenizer regex family BPE
    tokenizers use).
    """
    if mode == "whitespace":
        return F.size(tokenize(text))
    if mode == "bpe":
        return F.size(F.regexp_extract_all(_col(text), F.lit(r"\w+|[^\w\s]"), 0))
    raise ValueError(f"unknown token_count mode: {mode!r}")


#: Tiny per-language stopword anchors for the n-gram/stopword language-ID
#: heuristic. Deliberately small: the point is the *operator shape*
#: (argmax over per-language evidence, fully in-plan), not SOTA accuracy.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "que", "por", "para"),
}


def language_id(text: Union[str, SparkCol]) -> SparkCol:
    """Heuristic language ID → one of ``LANG_STOPWORDS`` keys, ``zh`` for
    CJK-dominant text, or ``und`` when no evidence.

    Score per language = |distinct tokens ∩ stopwords|; argmax with ties
    broken by the fixed language order (first max wins, deterministic).
    CJK detection runs first on raw characters.
    """
    toks = tokenize(text)
    langs = list(LANG_STOPWORDS)
    scores = F.array(
        *[
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])))
            for lang in langs
        ]
    )
    max_score = F.array_max(scores)
    idx = F.array_position(scores, max_score)  # 1-based, first occurrence
    best = F.element_at(F.array(*[F.lit(lang) for lang in langs]), idx.cast("int"))

    raw = _col(text)
    n_cjk = F.length(raw) - F.length(F.regexp_replace(raw, r"[一-鿿]", ""))
    return (
        F.when(n_cjk * 3 > F.length(raw), F.lit("zh"))
        .when(max_score > 0, best)
        .otherwise(F.lit("und"))
    )


def quality_score(
    text: Union[str, SparkCol],
    min_tokens: int = 5,
    max_mean_token_len: float = 12.0,
) -> SparkCol:
    """Heuristic document quality in [0, 1] from cheap surface statistics.

    Components (equal-weighted): has ≥ ``min_tokens`` tokens; mean token
    length in [2, ``max_mean_token_len``]; punctuation ratio < 0.2;
    stopword(en) ratio > 0.01. The exact formula matters less than it being
    deterministic, monotone in "looks like prose", and 100%-in-plan.
    """
    raw = _col(text)
    toks = tokenize(text)
    n_tokens = F.size(toks)
    n_chars = F.length(raw)
    mean_tok = F.when(n_tokens > 0, (n_chars.cast("double") / n_tokens))
    n_punct = n_chars - F.length(F.regexp_replace(raw, r"[^\w\s]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(1.0)
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    stop_ratio = F.when(n_tokens > 0, stop_hits.cast("double") / n_tokens).otherwise(0.0)

    checks = [
        (n_tokens >= min_tokens).cast("double"),
        # mean_tok is NULL for empty docs — a NULL check must count as 0,
        # not poison the whole score.
        F.coalesce(
            ((mean_tok >= 2.0) & (mean_tok <= max_mean_token_len)).cast("double"),
            F.lit(0.0),
        ),
        (punct_ratio < 0.2).cast("double"),
        (stop_ratio > 0.01).cast("double"),
    ]
    total = checks[0]
    for c in checks[1:]:
        total = total + c
    return F.round(total / F.lit(float(len(checks))), 2)


def gopher_quality_flags(
    text: Union[str, SparkCol],
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> SparkCol:
    """Gopher-style (Rae et al. 2021, public report) document quality
    rules as a struct of per-rule booleans plus the conjunction.

    Rules (the line/bullet rules are omitted — they need line structure):
    word count within bounds; mean word length within bounds; symbol
    (``#``/ellipsis) to word ratio below threshold; fraction of words
    containing at least one alphabetic character above threshold; at
    least ``min_stopword_hits`` distinct English stopwords present.
    Pure row-local Catalyst expressions — zero shuffle, and every rule is
    plain SQL so cross-engine oracles can recompute it verbatim.

    Returns ``struct<n_words, mean_word_len, symbol_ratio,
    alpha_word_frac, stopword_hits, word_count_ok, word_len_ok,
    symbol_ok, alpha_ok, stopword_ok, passes>``.
    """
    toks = tokenize(text)
    n_words = F.size(toks)
    nz = F.when(n_words > 0, n_words.cast("double"))
    mean_len = F.round(
        F.coalesce(
            F.aggregate(
                toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
            )
            / nz,
            F.lit(0.0),
        ),
        6,
    )
    raw = _col(text)
    n_symbols = (
        F.length(raw) - F.length(F.regexp_replace(raw, r"[#…]|\.\.\.", ""))
    )
    symbol_ratio = F.round(
        F.coalesce(n_symbols.cast("double") / nz, F.lit(1.0)), 6
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    alpha_frac = F.round(
        F.coalesce(alpha_words.cast("double") / nz, F.lit(0.0)), 6
    )
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(toks, en_stop))

    word_count_ok = (n_words >= min_words) & (n_words <= max_words)
    word_len_ok = (mean_len >= min_mean_word_len) & (
        mean_len <= max_mean_word_len
    )
    symbol_ok = symbol_ratio <= max_symbol_ratio
    alpha_ok = alpha_frac >= min_alpha_word_frac
    stopword_ok = stop_hits >= min_stopword_hits
    return F.struct(
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
        word_count_ok.alias("word_count_ok"),
        word_len_ok.alias("word_len_ok"),
        symbol_ok.alias("symbol_ok"),
        alpha_ok.alias("alpha_ok"),
        stopword_ok.alias("stopword_ok"),
        (
            word_count_ok & word_len_ok & symbol_ok & alpha_ok & stopword_ok
        ).alias("passes"),
    )


def token_entropy(df, id_col: str, text_col: str):
    """Per-document Shannon entropy of the token distribution →
    ``(id, n_tokens, n_distinct, entropy, norm_entropy)``.

    Low entropy relative to ``log2(n_distinct)`` flags repetitive,
    template-like documents (the information-theoretic twin of the n-gram
    repetition stats). Distributed form: explode → count per (doc,
    token) → per-doc fold — two partial-aggregated shuffles keyed by the
    doc id, no row-local O(tokens²) scan, so 10k-token documents cost
    O(tokens log tokens), not O(tokens²). ``norm_entropy`` is
    ``entropy / log2(n_distinct)`` in (0, 1], defined as 1.0 for
    single-token-type docs; docs with no tokens produce no row.
    """
    toks_df = df.select(
        F.col(id_col).alias("id"), F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    counts = toks_df.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.log2("c")).alias("__clogc"),
    )
    entropy = F.round(
        F.log2("n_tokens") - F.col("__clogc") / F.col("n_tokens"), 6
    )
    return per_doc.select(
        "id",
        "n_tokens",
        "n_distinct",
        entropy.alias("entropy"),
        F.when(F.col("n_distinct") == 1, F.lit(1.0))
        .otherwise(F.round(entropy / F.log2("n_distinct"), 6))
        .alias("norm_entropy"),
    )


def bigram_logprob(df, id_col: str, text_col: str):
    """Per-document mean bigram log-probability under the corpus's own
    bigram MLE model → ``(id, n_bigrams, mean_logprob)``.

    The KenLM-style fluency proxy without an external model: build
    bigram counts ``C(w1, w2)`` and unigram context counts ``C(w1)``
    over the WHOLE corpus, score each document by the mean of
    ``ln(C(w1, w2) / C(w1))`` over its bigrams. Template/boilerplate
    text scores near 0 (its bigrams dominate their contexts); rare or
    scrambled word sequences score strongly negative. Every document
    bigram exists in the corpus by construction, so MLE needs no
    smoothing and no log(0) guard.

    Distributed shape: one explode of the corpus into bigram rows,
    count aggregates on the bigram and on the context (both partial-
    merged), a join back keyed by the bigram, and a per-doc mean —
    shuffles keyed by bigram/context/doc, never a global structure.
    Docs with fewer than 2 tokens produce no row.
    """
    toks = tokenize(F.col(text_col))
    n = F.size(toks)
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("g"),
    ).select("id", "g.w1", "g.w2")

    # The bigram-count table IS the language model — materialize it once
    # (it is what a real pipeline would persist) so its two consumers
    # (the score join and the context-count derivation) don't each
    # re-scan and re-explode the corpus. Context counts derive FROM the
    # model: C(w1) = Σ_w2 C(w1, w2) — no third aggregate over raw grams.
    big_counts = (
        grams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    ctx_counts = big_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    scored = (
        grams.join(big_counts, ["w1", "w2"])
        .join(ctx_counts, "w1")
        .withColumn("lp", F.log(F.col("c12") / F.col("c1")))
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
    )


def doc_fingerprint(text: Union[str, SparkCol]) -> SparkCol:
    """Deterministic content fingerprint: md5 of whitespace-normalized,
    lowercased text. Engine-portable (md5 is identical everywhere), so it
    doubles as a cross-system dedup key.
    """
    normalized = F.regexp_replace(F.lower(F.trim(_col(text))), r"\s+", " ")
    return F.md5(normalized)


def rolling_hashes(text: Union[str, SparkCol], k: int = 5) -> SparkCol:
    """xxhash64 of every ``k``-token shingle → ``array<bigint>``.

    Building block for winnowing-style fingerprints and MinHash. xxhash64 is
    Spark-native (fast, 64-bit); not portable to other engines — use
    :func:`doc_fingerprint` where cross-engine equality matters.
    """
    return F.transform(word_shingles(text, n=k, distinct=False), lambda s: F.xxhash64(s))


def winnow_fingerprints(
    text: Union[str, SparkCol], k: int = 5, w: int = 4
) -> SparkCol:
    """Winnowing document fingerprints → ``array<bigint>``.

    The MOSS scheme (Schleimer/Wilkerson/Aiken 2003): hash every ``k``-token
    shingle, slide a window of ``w`` hashes, keep each window's minimum,
    dedupe. Guarantees any shared run of ``w + k - 1`` tokens between two
    documents yields at least one shared fingerprint — the basis for
    plagiarism/copy detection at corpus scale. Row-local expression; compare
    via explode + self-join like :func:`~ons_utils_spark.operators.dedup.jaccard_pairs`.
    """
    hashes = rolling_hashes(text, k=k)
    n_windows = F.size(hashes) - F.lit(w - 1)
    mins = F.when(
        n_windows > 0,
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.array_min(F.slice(hashes, i, w)),
        ),
    ).otherwise(
        # Shorter than one window: fall back to the global min (or empty).
        F.when(F.size(hashes) > 0, F.array(F.array_min(hashes))).otherwise(
            F.array().cast("array<bigint>")
        )
    )
    return F.array_distinct(mins)


def tfidf_terms(
    df,
    id_col: str,
    text_col: str,
    round_to: int = 6,
    n_docs: Optional[int] = None,
):
    """Per-document TF-IDF scores → ``(id, term, tf, df, tfidf)`` rows.

    DataFrame-level operator (needs corpus statistics): term frequencies
    from one explode+aggregate, document frequencies from a second
    aggregate over distinct (id, term), ``idf = ln(N / df)``, joined back.
    Two shuffles on the term/id keys, both with partial aggregation.

    ``N`` (corpus document count, INCLUDING token-less documents) is taken
    from ``n_docs`` when the caller already knows it; otherwise it is
    computed as a 1-row aggregate broadcast-cross-joined into the scoring
    plan — part of the same distributed job, no driver-side action, and
    the extra scan reads only the (pruned) id column. Pre-r2 this was an
    eager ``df.distinct().count()`` on the driver — a full extra job per
    call (VERDICT r1).
    """
    from pyspark.sql import functions as F

    tokens = df.select(
        F.col(id_col).alias("id"), F.explode(tokenize(text_col)).alias("term")
    )
    # The TF table feeds both the score join and the document-frequency
    # aggregate; materialized once so Catalyst's per-consumer column
    # pruning doesn't turn each reference into its own corpus
    # re-scan+re-tokenize (this is also the table a real pipeline
    # persists as its index).
    tf = (
        tokens.groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if n_docs is not None:
        n_col = F.lit(float(n_docs))
        scored = tf.join(doc_freq, "term")
    else:
        corpus_n = df.agg(
            F.count_distinct(F.col(id_col)).cast("double").alias("__n_docs")
        )
        scored = tf.join(doc_freq, "term").crossJoin(F.broadcast(corpus_n))
        n_col = F.col("__n_docs")
    return scored.select(
        "id",
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * F.log(n_col / F.col("df")), round_to).alias("tfidf"),
    )


def ngram_repetition(
    df,
    id_col: str,
    text_col: str,
    n: int = 2,
    round_to: int = 6,
):
    """Per-document n-gram repetition signals (Gopher-style quality filter)
    → ``(id, total_ngrams, distinct_ratio, top_ngram_ratio)`` rows.

    ``distinct_ratio`` = distinct n-grams / total n-grams (low → the text
    repeats itself); ``top_ngram_ratio`` = occurrences of the single most
    frequent n-gram / total (high → boilerplate loops). These are the
    repetition filters of Rae et al. 2021 ("Gopher") §A1.1, expressed as
    explode → two hash aggregates, both with map-side partial aggregation:
    shuffle volume is O(distinct (doc, gram)) then O(docs). Documents with
    fewer than ``n`` tokens produce no row (no n-grams to measure).
    """
    from pyspark.sql import functions as F

    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, n=n, distinct=False)).alias("g"),
    )
    counts = grams.groupBy("id", "g").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("id").agg(
        F.sum("c").alias("total_ngrams"),
        F.round(F.count(F.lit(1)) / F.sum("c"), round_to).alias("distinct_ratio"),
        F.round(F.max("c") / F.sum("c"), round_to).alias("top_ngram_ratio"),
    )


def _doc_lines(text: Union[str, SparkCol]) -> SparkCol:
    """Non-empty trimmed lines of a document (``\\n`` split) — the one
    line-semantics definition :func:`gopher_line_flags` and
    :func:`c4_line_clean` share. NULL text reads as an empty document
    (empty array), not a null that poisons downstream size() filters."""
    return F.filter(
        F.transform(
            F.split(F.coalesce(_col(text), F.lit("")), "\n"),
            lambda l: F.trim(l),
        ),
        lambda l: l != "",
    )


def gopher_line_flags(
    text: Union[str, SparkCol],
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
) -> SparkCol:
    """The LINE-structure half of the Gopher rules (Rae et al. 2021) —
    the rules :func:`gopher_quality_flags` documents as omitted: flag
    documents where more than ``max_bullet_ratio`` of lines start with
    a bullet marker or more than ``max_ellipsis_ratio`` end with an
    ellipsis (boilerplate listings / truncated scrapes).

    Returns ``struct<n_lines, bullet_ratio, ellipsis_ratio, passes>``;
    a document without newlines is one line (ratios 0 or 1 as its own
    content dictates). Pure row-local Catalyst expressions, zero
    shuffle, SQL-replayable.
    """
    lines = _doc_lines(text)
    n_lines = F.size(lines)
    bullets = F.size(
        F.filter(lines, lambda l: l.rlike(r"^(\-|\*|•|·|‣|▪)"))
    )
    ellipses = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)$")))
    safe_n = F.greatest(n_lines, F.lit(1))
    bullet_ratio = F.round(bullets / safe_n, 6)
    ellipsis_ratio = F.round(ellipses / safe_n, 6)
    return F.struct(
        n_lines.alias("n_lines"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        (
            (bullet_ratio <= F.lit(max_bullet_ratio))
            & (ellipsis_ratio <= F.lit(max_ellipsis_ratio))
        ).alias("passes"),
    )


def c4_line_clean(
    df,
    id_col: str,
    text_col: str,
    min_words: int = 3,
    require_terminal_punct: bool = True,
    banned: "tuple[str, ...]" = ("javascript",),
    banned_doc: "tuple[str, ...]" = ("lorem ipsum", "{"),
    min_lines: int = 1,
):
    """C4-style cleaning (Raffel et al. 2020 §2.2), both granularities
    the paper uses: per-LINE rules — at least ``min_words`` words,
    (optionally) terminal punctuation, none of the ``banned``
    substrings (C4 drops lines with the word "javascript") — and
    per-DOCUMENT rules: a document containing any ``banned_doc``
    substring drops ENTIRELY (C4's "lorem ipsum" placeholder and
    curly-brace code detectors are page filters — stripping only the
    offending lines would let a code page survive as its brace-free
    lines). Documents retaining fewer than ``min_lines`` lines drop
    too. All matching is case-insensitive; NULL text reads as an empty
    document.

    The doc-level quality filters (:func:`gopher_quality_flags`,
    :func:`quality_score`) judge documents whole; real web text needs
    this INTRA-document pass first — navigation stubs, cookie banners
    and code debris live on their own lines inside otherwise-good
    documents. Returns ``(id, text, n_lines, n_kept)`` with ``text``
    rewritten to the kept lines re-joined by newline.

    Scale: one row-local expression chain (split → filter lambda →
    array_join) — no explode, no shuffle, whole-stage-codegen'd; the
    only data movement is whatever the caller does next.
    """
    def line_ok(l):
        # l is already trimmed and non-empty (_doc_lines)
        cond = (
            F.size(F.filter(F.split(l, r"\s+"), lambda w: w != ""))
            >= F.lit(min_words)
        )
        if require_terminal_punct:
            cond = cond & l.rlike(r'[.!?"]\s*$')
        for b in banned:
            cond = cond & ~F.contains(F.lower(l), F.lit(b.lower()))
        return cond

    lines = _doc_lines(F.col(text_col))
    kept = F.filter(lines, line_ok)
    out = df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias(text_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("__lower"),
    )
    for b in banned_doc:
        out = out.where(~F.contains(F.col("__lower"), F.lit(b.lower())))
    return out.drop("__lower").where(F.col("n_kept") >= F.lit(min_lines))


def _bm25_contrib(k1: float, b: float):
    """The Okapi BM25 term-contribution expression shared by the
    single-query and batch forms — ONE copy of the scoring formula, so
    the two paths cannot drift. Expects columns ``tf``, ``df``, ``__n``,
    ``__dl``, ``__avgdl`` in scope (the hits table both forms build)."""
    from pyspark.sql import functions as F

    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(float(k1)) * (
        F.lit(1.0)
        - F.lit(float(b))
        + F.lit(float(b)) * F.col("__dl") / F.col("__avgdl")
    )
    return idf * (F.col("tf") * F.lit(float(k1) + 1.0)) / denom


def _normalize_query_terms(query_terms: "Sequence[str]") -> "list[str]":
    """Shared query-term normalization (None check, lowercase, ordered
    dedupe) for every BM25 entry point — one contract, one copy."""
    if any(x is None for x in query_terms):
        raise ValueError("query_terms contains None — every term must "
                         "be a string")
    seen: set = set()
    qt = [
        t for t in (str(x).lower() for x in query_terms)
        if not (t in seen or seen.add(t))
    ]
    if not qt:
        raise ValueError("query_terms must contain at least one term")
    return qt


def _fold_bm25(hits, keys: "list[str]", k1: float, b: float,
               round_dp: int):
    """The parity-critical scoring fold shared by ALL four BM25 entry
    points (scan/indexed × single/batch): select the grouping keys plus
    the shared contribution expression, sum in exact ``decimal(38,18)``
    (order-independent — the package's kmeans-centroid trick), cast back
    once, round. One copy, four callers — the fold precision and
    rounding cannot drift between forms."""
    from pyspark.sql import functions as F

    contrib = _bm25_contrib(k1, b)
    return (
        hits.select(*keys, contrib.alias("__c"))
        .groupBy(*keys)
        .agg(
            F.round(
                F.sum(F.col("__c").cast("decimal(38,18)")).cast("double"),
                round_dp,
            ).alias("bm25")
        )
    )


def _query_table_vocab(queries, query_id_col: str, terms_col: str):
    """Validate a batch query table and derive its ``(qt, vocab)``
    frames — shared by the scan and indexed batch forms.

    Raises on a NULL/empty terms array or a NULL term inside one
    (contract parity with :func:`_normalize_query_terms`): the
    explode/joins would otherwise silently drop the query or term,
    masking a malformed query table as "no matches". The probe is one
    job over the (tiny) query table."""
    from pyspark.sql import functions as F

    bad = (
        queries.where(
            F.col(terms_col).isNull()
            | (F.size(terms_col) == 0)
            | F.exists(terms_col, lambda x: x.isNull())
        )
        .select(F.col(query_id_col).alias("qid"))
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"query {bad[0]['qid']!r} has a NULL or empty {terms_col!r} "
            "array or a NULL term — every query must carry at least one "
            "non-NULL term (the single-query bm25_scores raises the "
            "same way)"
        )
    qt = (
        queries.select(
            F.col(query_id_col).alias("qid"),
            F.explode(terms_col).alias("term"),
        )
        .select("qid", F.lower("term").alias("term"))
        .distinct()
    )
    return qt, qt.select("term").distinct()


def _per_query_topk(scored, topk: int):
    """Per-query bounded top-k over ``(qid, id, bm25)`` — the window is
    partitioned BY QUERY, never global; ties by doc id."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("qid").orderBy(
        F.col("bm25").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(F.col("qid").alias("query_id"), "id", "bm25", "rank")
    )


def bm25_scores(
    df,
    id_col: str,
    text_col: str,
    query_terms: "Sequence[str]",
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 6,
):
    """Okapi BM25 document scores for a literal term query →
    ``(id, bm25)`` rows for every document matching ≥ 1 query term.

    Robertson/Lucene form: ``Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b +
    b·dl/avgdl))`` with ``idf = ln(1 + (N − df + 0.5)/(df + 0.5))``
    (always positive). The retrieval primitive behind query-driven
    corpus curation — pull the documents most relevant to a benchmark
    topic for targeted decontamination review, or mine domain-specific
    training slices by keyword profile.

    Determinism (and DuckDB oracle parity, ``q_bm25_topk``): ``avgdl``
    is an exact integer token-count sum divided once (never a streamed
    float mean), and the per-document score sums its term contributions
    in exact ``decimal(38,18)`` — order-independent, so the result is
    bit-identical across partitionings and engines at ANY query width
    (one aggregate column regardless of |query|; a per-term-column form
    would grow the plan O(|query|)).

    Scale: tokens filter to the query vocabulary BEFORE the shuffle
    (broadcast semi-join against the |query|-row vocabulary — the same
    predicate shape as :func:`bm25_batch_topk`, one code path; an
    ``isin`` literal would bake O(|query|) terms into the plan for a
    wide term profile), document frequencies are a ≤ |query|-row
    broadcast,
    and N/avgdl fold in as the package's usual 1-row broadcast
    aggregate. Two corpus passes — the stats aggregate and the gram
    pass — and no pass materializes token arrays (cheaper at corpus
    scale than checkpointing the tokenized form to save the second
    read).
    """
    from pyspark.sql import functions as F

    qt = _normalize_query_terms(query_terms)
    vocab = local_rows_df(
        df.sparkSession, [(t,) for t in qt], "term string"
    )

    toks = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(tokenize(text_col), F.array()).alias("__toks"),
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("__n"),
        (
            F.sum(F.size("__toks")).cast("double") / F.count(F.lit(1))
        ).alias("__avgdl"),
    )
    base = toks.select(
        "id",
        F.size("__toks").alias("__dl"),
        F.explode("__toks").alias("term"),
    ).join(F.broadcast(vocab), "term", "left_semi")
    # The query-term TF table feeds both the document-frequency
    # aggregate and the scoring join — materialized once (it is tiny:
    # only query-vocabulary hits survive the filter) so each consumer
    # doesn't re-scan and re-tokenize the corpus.
    tf = (
        base.groupBy("id", "__dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    hits = tf.join(F.broadcast(dfs), "term").crossJoin(F.broadcast(stats))
    return _fold_bm25(hits, ["id"], k1, b, round_dp)


def bm25_topk(
    df,
    id_col: str,
    text_col: str,
    query_terms: "Sequence[str]",
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 6,
):
    """Top-``k`` documents by :func:`bm25_scores` (ties by id — fully
    deterministic). Plans as TakeOrderedAndProject over the scored
    rows: per-partition heaps, no global sort."""
    from pyspark.sql import functions as F

    return (
        bm25_scores(df, id_col, text_col, query_terms, k1, b, round_dp)
        .orderBy(F.col("bm25").desc(), F.col("id").asc())
        .limit(topk)
    )


def bm25_prf_topk(
    df,
    id_col: str,
    text_col: str,
    query_terms: "Sequence[str]",
    topk: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 6,
):
    """Pseudo-relevance-feedback retrieval (RM3-family, Lavrenko &
    Croft 2001 / Abdul-Jaleel et al. 2004 simplified to deterministic
    TF feedback): run the literal query, mine the ``fb_terms`` most
    frequent NEW terms from the ``fb_docs`` top documents, and re-run
    BM25 with the expanded query — the standard recall lever when a
    curation keyword profile under-describes its topic (the feedback
    docs supply the vocabulary the curator didn't).

    Fully deterministic and externally replayable: the feedback cut is
    the rounded-score (bm25 desc, id) top-``fb_docs``; expansion terms
    rank by (occurrence count desc, term asc) over the SHARED
    :func:`tokenize` stream with the original terms excluded; both
    collected sets are contract-bounded (``fb_docs`` ids, ``fb_terms``
    strings). Scale: the feedback-term pass reads only the ``fb_docs``
    documents (an id ``In`` pushdown), so the total cost is two BM25
    passes + one k-doc scan — and the second pass can serve from the
    inverted index (`bm25_topk_indexed`) in production since the
    expanded query is just a wider term list.

    Returns the stage-2 ``(id, bm25)`` top-``topk``.
    """
    from pyspark.sql import functions as F

    qt = _normalize_query_terms(query_terms)
    fb_ids = [
        r["id"]
        for r in bm25_topk(
            df, id_col, text_col, qt, topk=fb_docs, k1=k1, b=b,
            round_dp=round_dp,
        ).collect()
    ]
    expansion: "list[str]" = []
    if fb_ids:
        expansion = [
            r["term"]
            for r in (
                df.where(F.col(id_col).isin(fb_ids))
                .select(F.explode(
                    F.coalesce(tokenize(text_col), F.array())
                ).alias("term"))
                .where(~F.col("term").isin(list(qt)))
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("w"))
                .orderBy(F.col("w").desc(), F.col("term").asc())
                .limit(fb_terms)
                .collect()
            )
        ]
    return bm25_topk(
        df, id_col, text_col, list(qt) + expansion, topk=topk,
        k1=k1, b=b, round_dp=round_dp,
    )


def bm25_prf_topk_indexed(
    postings,
    stats,
    query_terms: "Sequence[str]",
    topk: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 6,
):
    """:func:`bm25_prf_topk` answered ENTIRELY from a prebuilt inverted
    index — zero corpus scans, zero tokenizes: stage 1 is
    :func:`bm25_topk_indexed` (pruned postings read), the expansion
    terms are mined from the POSTINGS of the ``fb_docs`` feedback
    documents (``Σ tf`` per term is exactly the token-occurrence count
    the scan form explodes the raw text for — the index denormalized
    it at build time), and stage 2 re-runs the indexed scorer with the
    wider term list. Bit-identical to the scan form on the same corpus
    (indexed scoring ≡ scan scoring is pinned; the expansion ranking
    sums the same integers) — measured speedup in SCALING.md §PRF.

    The feedback-postings read filters by document id, not term — on a
    term-sorted store that is one un-pruned pass over the postings
    (index-sized, not corpus-sized); a deployment doing heavy PRF
    should keep a second id-sorted postings copy, the standard
    row/column-organization trade.

    Returns the stage-2 ``(id, bm25)`` top-``topk``.
    """
    from pyspark.sql import functions as F

    qt = _normalize_query_terms(query_terms)
    fb_ids = [
        r["id"]
        for r in bm25_topk_indexed(
            postings, stats, qt, topk=fb_docs, k1=k1, b=b,
            round_dp=round_dp,
        ).collect()
    ]
    expansion: "list[str]" = []
    if fb_ids:
        expansion = [
            r["term"]
            for r in (
                postings.where(F.col("id").isin(fb_ids))
                .where(~F.col("term").isin(list(qt)))
                .groupBy("term")
                .agg(F.sum("tf").alias("w"))
                .orderBy(F.col("w").desc(), F.col("term").asc())
                .limit(fb_terms)
                .collect()
            )
        ]
    return bm25_topk_indexed(
        postings, stats, list(qt) + expansion, topk=topk,
        k1=k1, b=b, round_dp=round_dp,
    )


#: Largest feedback-doc id set pushed into the postings scan as an
#: ``In`` literal by the batch PRF's expansion mining; past it the
#: fetch falls back to a broadcast semi-join (the pq._REFINE_ISIN_MAX
#: pattern — the list is what reaches the parquet reader, but it is
#: also O(n) plan literals).
_PRF_FB_ISIN_MAX = 1024


def bm25_prf_batch_topk_indexed(
    postings,
    stats,
    queries,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    topk: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 6,
):
    """Pseudo-relevance feedback for EVERY query in a query TABLE,
    served from the inverted index → ``(query_id, id, bm25, rank)`` —
    the production PRF shape: all profiles expand and re-retrieve in
    THREE bounded jobs instead of ``3 × n_queries`` driver round-trips.

    Stage 1 is one :func:`bm25_batch_topk_indexed` job (``fb_docs``
    per query); expansion mining is ONE pass over the feedback docs'
    postings (id ``In`` pushdown up to :data:`_PRF_FB_ISIN_MAX` ids,
    broadcast semi-join past it) joined to the broadcast (qid, fb-doc)
    map — a doc feeding several queries' feedback sets is read once —
    grouped to ``Σ tf`` per (query, term), the query's OWN terms
    anti-joined away, and cut to ``fb_terms`` per query by a window
    ordered (weight desc, term asc); stage 2 is one more batch job
    over the expanded profiles. Per query the result is bit-identical
    to :func:`bm25_prf_topk_indexed` (and hence to the scan-form
    :func:`bm25_prf_topk`) — same feedback cut, same expansion
    ranking, same scoring folds (pinned in tests). A query whose
    literal terms match nothing expands to nothing and returns no
    rows, exactly like the single-query forms.
    """
    from pyspark.sql import Window, functions as F

    spark = postings.sparkSession
    stage1 = bm25_batch_topk_indexed(
        postings, stats, queries, query_id_col=query_id_col,
        terms_col=terms_col, topk=fb_docs, k1=k1, b=b, round_dp=round_dp,
    )
    # Both collects are contract-bounded: the query table is
    # driver-sized (the batch contract) and stage 1 is ≤ n_q·fb_docs.
    qrows = queries.select(query_id_col, terms_col).collect()
    fb_rows = stage1.select("query_id", "id").collect()
    fb_map = {}
    for r in fb_rows:
        fb_map.setdefault(r["query_id"], []).append(r["id"])
    orig = {
        r[query_id_col]: [t.lower() for t in r[terms_col]] for r in qrows
    }
    fb_ids = sorted({i for ids in fb_map.values() for i in ids})
    expansion = {qid: [] for qid in orig}
    if fb_ids:
        qid_type = queries.schema[query_id_col].dataType.simpleString()
        id_type = postings.schema["id"].dataType.simpleString()
        pairs = local_rows_df(
            spark,
            [(q, i) for q, ids in fb_map.items() for i in ids],
            f"qid {qid_type}, id {id_type}",
        )
        own = local_rows_df(
            spark,
            [(q, t) for q, ts in orig.items() for t in sorted(set(ts))],
            f"qid {qid_type}, term string",
        )
        fetched = (
            postings.where(F.col("id").isin(fb_ids))
            if len(fb_ids) <= _PRF_FB_ISIN_MAX
            else postings.join(
                F.broadcast(pairs.select("id").distinct()), "id",
                "left_semi",
            )
        )
        w = Window.partitionBy("qid").orderBy(
            F.col("w").desc(), F.col("term").asc()
        )
        mined = (
            fetched.select("id", "term", "tf")
            .join(F.broadcast(pairs), "id")
            .groupBy("qid", "term")
            .agg(F.sum("tf").alias("w"))
            .join(F.broadcast(own), ["qid", "term"], "left_anti")
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= fb_terms)
            .select("qid", "term", "__rn")
            .collect()
        )
        for r in sorted(mined, key=lambda r: (str(r["qid"]), r["__rn"])):
            expansion[r["qid"]].append(r["term"])
    expanded = local_rows_df(
        spark,
        [(q, orig[q] + expansion[q]) for q in orig],
        queries.select(query_id_col, terms_col).schema,
    )
    return bm25_batch_topk_indexed(
        postings, stats, expanded, query_id_col=query_id_col,
        terms_col=terms_col, topk=topk, k1=k1, b=b, round_dp=round_dp,
    )


def retrieve_passages(
    df,
    postings,
    stats,
    id_col: str,
    text_col: str,
    query_terms: "Sequence[str]",
    topk: int = 10,
    window: int = 16,
    stride: int = 8,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 6,
):
    """Retrieve-then-extract: :func:`bm25_topk_indexed` picks the
    ``topk`` documents from the inverted index (no corpus scan), then
    :func:`best_passage` mines each retrieved document's best
    query-matching span — with the retrieved ids pushed into the
    corpus scan as an ``In`` literal BEFORE the tokenize, so passage
    extraction tokenizes ``topk`` documents of a 100 TB corpus, never
    the corpus (the ``q_curation_pipeline`` slice pattern).

    Returns ``(id, bm25, start, score, passage)`` ordered by
    ``(bm25 desc, id)`` — every retrieved document is present (a
    positive BM25 score implies ≥ 1 query-term hit, so
    :func:`best_passage` always finds a window).
    """
    from pyspark.sql import functions as F

    qt = _normalize_query_terms(query_terms)
    stage1 = bm25_topk_indexed(
        postings, stats, qt, topk=topk, k1=k1, b=b, round_dp=round_dp
    )
    cand_rows = stage1.collect()
    spark = df.sparkSession
    cand = local_rows_df(spark, cand_rows, stage1.schema)
    ids = [r["id"] for r in cand_rows]
    sliced = df.where(F.col(id_col).isin(ids))
    passages = best_passage(
        sliced, id_col, text_col, qt, window=window, stride=stride
    )
    return (
        passages.join(F.broadcast(cand), "id")
        .select("id", "bm25", "start", "score", "passage")
        .orderBy(F.col("bm25").desc(), F.col("id").asc())
    )


def best_passage(
    df,
    id_col: str,
    text_col: str,
    query_terms: "Sequence[str]",
    window: int = 16,
    stride: int = 8,
):
    """Best query-matching passage per document: fixed ``window``-token
    spans at ``stride`` offsets, scored by query-term occurrences, the
    top span per document returned as ``(id, start, score, passage)``
    (docs with zero hits are absent). The snippet stage of a retrieval
    pipeline — BM25 says WHICH document, this says WHERE in it — and
    the span-miner for passage-level curation (extract the topical
    window, not the whole doc).

    Deterministic and integer/string-exact (no floats anywhere):
    windows start at multiples of ``stride``; score = hit-token count;
    ties break to the EARLIEST window. Scale: tokens filter to the
    query vocabulary before the shuffle, so the window-scoring join is
    per-document tiny (hit positions × dl/stride starts), and the
    passage slice joins back to one tokenized projection — everything
    shuffles on the doc id only.
    """
    from pyspark.sql import Window, functions as F

    if window < 1 or stride < 1:
        raise ValueError(
            f"window and stride must be >= 1, got {window}, {stride}"
        )
    if window < stride:
        # Positions in [s+window, s+stride) would be covered by NO
        # window — a document whose only hits fall in such a gap would
        # silently vanish from the output (ADVICE r11).
        raise ValueError(
            f"window ({window}) must be >= stride ({stride}) — a "
            "smaller window leaves token positions no span covers, "
            "silently dropping documents whose hits fall in the gaps"
        )
    qt = _normalize_query_terms(query_terms)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(tokenize(text_col), F.array()).alias("__toks"),
    ).localCheckpoint(eager=True)  # feeds hits, window starts, AND the
    # final passage slice — one tokenize, three consumers
    hits = (
        toks.select("id", F.posexplode("__toks").alias("pos", "term"))
        .where(F.col("term").isin(qt))
        .select("id", "pos")
    )
    wins = toks.select(
        "id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("__toks") - 1, F.lit(0)),
                F.lit(stride),
            )
        ).alias("s"),
    )
    scored = (
        wins.join(
            hits,
            (wins["id"] == hits["id"])
            & (hits["pos"] >= wins["s"])
            & (hits["pos"] < wins["s"] + window),
        )
        .groupBy(wins["id"].alias("id"), "s")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("s").asc()
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        best.join(toks, "id")
        .select(
            "id",
            F.col("s").alias("start"),
            "score",
            F.concat_ws(
                " ", F.slice(F.col("__toks"), F.col("s") + 1, window)
            ).alias("passage"),
        )
        .orderBy("id")
    )


def bm25_batch_topk(
    df,
    id_col: str,
    text_col: str,
    queries,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 6,
):
    """BM25 top-``k`` documents for EVERY query in a query TABLE →
    ``(query_id, id, bm25, rank)`` — the batch retrieval shape: score
    all benchmark prompts / topic profiles against the corpus in one
    job instead of one :func:`bm25_topk` driver round-trip per query.

    ``queries`` is ``(query_id, terms array<string>)``; a NULL or
    empty ``terms`` array — or a NULL term inside one — raises up
    front (same contract as :func:`bm25_scores` — the explode/joins
    would otherwise silently drop the query or term, masking a
    malformed query table as "no matches").
    Same scoring as :func:`bm25_scores`; document frequencies are
    per-term over the corpus (query-independent, computed once however
    many queries share a term).

    Determinism: a query matches a VARIABLE number of terms per doc, so
    the per-(query, doc) sum is taken in exact ``decimal(38,18)``
    (order-independent — the package's kmeans-centroid trick) and cast
    back once; ranks tie-break by doc id. The oracle replays it.

    Scale: tokens semi-join the (broadcast) union vocabulary of all
    queries map-side, so corpus volume through the shuffle is
    query-vocabulary hits only; per-query fan-out happens AFTER
    aggregation to (id, term) — the corpus is never duplicated per
    query. Two corpus passes (stats + gram pass, as in
    :func:`bm25_scores` — token arrays are never materialized), then
    all downstream work is hit-sized. Top-k is a window partitioned BY
    QUERY — bounded partitions, never global.
    """
    from pyspark.sql import functions as F

    qt, vocab = _query_table_vocab(queries, query_id_col, terms_col)

    toks = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(tokenize(text_col), F.array()).alias("__toks"),
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("__n"),
        (
            F.sum(F.size("__toks")).cast("double") / F.count(F.lit(1))
        ).alias("__avgdl"),
    )
    base = toks.select(
        "id",
        F.size("__toks").alias("__dl"),
        F.explode("__toks").alias("term"),
    ).join(F.broadcast(vocab), "term", "left_semi")
    tf = (
        base.groupBy("id", "__dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    hits = (
        tf.join(F.broadcast(dfs), "term")
        .join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(stats))
    )
    scored = _fold_bm25(hits, ["qid", "id"], k1, b, round_dp)
    return _per_query_topk(scored, topk)


def bm25_index_build(df, id_col: str, text_col: str):
    """Build a durable BM25 inverted index → ``(postings, stats)``.

    ``postings`` is one row per (document, distinct term):
    ``(term, id, tf, dl)`` — term frequency and document length
    DENORMALIZED onto every posting so a query never joins back to the
    corpus. ``stats`` is ONE row ``(n, total_dl)`` of exact integers:
    document count and total token count (``avgdl`` is derived at query
    time by the same single division :func:`bm25_scores` uses, so
    indexed scores are bit-identical to corpus-scan scores).

    This is the retrieval twin of the PQ serving artifact
    (``pq.save_ivf_pq_table``): :func:`bm25_scores` re-tokenizes the
    corpus per query profile — right for one-off curation pulls, wrong
    for a query workload. Build once, :func:`save_bm25_index`
    term-sorted, and every query reads only its terms' row groups.

    ONE corpus scan: the tokenized projection is checkpointed and feeds
    both the postings aggregate (checkpointed too) and the stats
    aggregate (the scorers rightly avoid materializing token arrays
    because they run per query; a build runs once per corpus/batch, and
    the checkpoint spills to executor disk).
    """
    from pyspark.sql import functions as F

    toks = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(tokenize(text_col), F.array()).alias("__toks"),
    ).localCheckpoint(eager=True)
    postings = (
        toks.select(
            "id",
            F.size("__toks").alias("dl"),
            F.explode("__toks").alias("term"),
        )
        .groupBy("term", "id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", "id", "tf", "dl")
        .localCheckpoint(eager=True)
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("__toks")).alias("total_dl"),
    )
    return postings, stats


def save_bm25_index(postings, stats, path: str) -> None:
    """Persist a whole BM25 index under ``path`` as the one BM25 store
    layout: ``postings/batch_id=-1/`` range-sorted by term (parquet
    row-group min/max stats on the sort column turn a query's term
    filter into row-group PRUNING — the scan reads the queried terms'
    neighborhoods, not the corpus vocabulary) and one
    ``(n, total_dl, postings_files)`` stats row under
    ``stats/batch_id=-1/``, through :func:`_write_bm25_store`. The
    store at ``path``, appends and tombstones included, is replaced as
    one unit; the saved store takes :func:`bm25_index_append`,
    :func:`bm25_index_delete` and :func:`bm25_index_vacuum` like any
    other."""
    _write_bm25_store(
        postings.repartitionByRange("term").sortWithinPartitions("term"),
        stats, path,
    )


def _write_bm25_store(postings, stats, path: str) -> None:
    """The one whole-store BM25 writer (:func:`save_bm25_index`,
    :func:`bm25_index_vacuum`): into a staged sibling of ``path`` it
    writes the ``(term, id, tf, dl)`` postings under
    ``postings/batch_id=-1/``, then the ``(n, total_dl)`` stats row
    carrying their manifest (``sources/store.py``'s BM25 commit
    manifest) under ``stats/batch_id=-1/``, and promotes the staging in
    place of the store by rename-aside
    (``sources/store.py::promote_staged_store``; debris of a crashed
    promotion is repaired first). A crash before the promotion leaves
    the live store untouched, one inside it is repaired by the next
    writer, so a reader sees the old store or the new one. Both inputs
    are written out before the promotion moves anything they read."""
    from pyspark.sql import functions as F

    from ons_utils_spark.sources.store import (
        file_manifest, promote_staged_store, repair_swap_debris,
    )

    repair_swap_debris(path)
    staging = path.rstrip("/") + ".__save_tmp"

    def write(rows, half):
        (
            rows.withColumn("batch_id", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(f"{staging}/{half}")
        )

    write(postings.select("term", "id", "tf", "dl"), "postings")
    manifest = file_manifest(f"{staging}/postings")
    write(
        stats.select("n", "total_dl", F.lit(manifest).alias("postings_files")),
        "stats",
    )
    promote_staged_store(path, staging, what="BM25 store write")


def _local_stats(spark, n, total_dl):
    """The scorers' stats as a DRIVER-LOCAL one-row relation: independent
    of the store files (safe to serve after the store directory is gone),
    and its known 1-row size means the stats broadcast costs no read."""
    return local_rows_df(spark, [(n, total_dl)], "n bigint, total_dl bigint")


def load_bm25_index(spark, path: str):
    """Load a BM25 store → ``(postings, stats)`` ready for
    :func:`bm25_topk_indexed` / :func:`bm25_batch_topk_indexed`, in 0
    Spark jobs — the one loader for whatever :func:`save_bm25_index`,
    :func:`bm25_index_append`, :func:`bm25_index_delete` and
    :func:`bm25_index_vacuum` wrote (a store saved before the layouts
    merged, with unpartitioned ``postings/`` and one stats row, loads
    too). Postings from disjoint new-doc batches union without
    conflict; the per-batch stats rows SUM into the one exact-integer
    row the scorers expect — so after any number of appends the served
    scores are bit-identical to a one-shot :func:`bm25_index_build`
    over the full corpus (pinned in tests).

    Every load checks the commit manifests on the driver
    (``sources/store.py::check_file_manifest``): the postings listing
    must be exactly the files the save/append stats rows record, each
    recorded once, and the tombstone listing exactly the files the
    delete stats rows record, so a write torn between its two halves —
    or a copied stats row — fails loudly instead of serving wrong
    ``n``/``avgdl``, or rows without their stats decrement. Pending
    :func:`bm25_index_delete` tombstones are applied on read: the
    folded ``n``/``total_dl`` already carry the deletes' exact negative
    stats deltas, and the postings read is filtered by the broadcast
    per-id watermark (``sources/store.py::apply_tombstones``, folded on
    the driver) — served scores stay bit-identical to a one-shot build
    over the LIVE corpus.

    The returned ``stats`` is a driver-local one-row relation; the
    returned ``postings`` is a LAZY scan of the store's files, which a
    later :func:`bm25_index_vacuum`, :func:`bm25_index_compact` or
    :func:`save_bm25_index` replaces — collecting it after one fails,
    so reload after every whole-store write (or materialize first)."""
    from ons_utils_spark.sources.store import (
        apply_tombstones, check_file_manifest, footer_schema,
        load_tombstone_watermarks,
    )

    row = _fold_stats(path)
    postings_path = f"{path}/postings"
    tomb_path = f"{path}/tombstones"
    check_file_manifest(
        postings_path, row["postings_files"],
        f"BM25 index at {path!r} is torn: its postings files are not "
        "the ones its stats rows record — an append crashed between the "
        "postings and stats halves. Re-run the append with its explicit "
        "batch_id to repair (the partition overwrite replaces both "
        "halves).",
    )
    check_file_manifest(
        tomb_path, row["tombstone_files"],
        f"BM25 index at {path!r} has a torn DELETE: its tombstone "
        "files are not the ones its stats deltas record — a delete "
        "crashed between its tombstone and stats writes (or the tombstone "
        "directory was edited). Re-run the delete with its explicit "
        "batch_id to repair (both partitions are statically overwritten).",
    )
    raw_postings = spark.read.schema(footer_schema(postings_path)).parquet(
        postings_path
    )
    postings = apply_tombstones(
        raw_postings, load_tombstone_watermarks(spark, tomb_path)
    ).select("term", "id", "tf", "dl")
    return postings, _local_stats(spark, row["n"], row["total_dl"])


#: A second public name for :func:`load_bm25_index`.
load_bm25_index_incremental = load_bm25_index


def _fold_stats(store_path: str) -> dict:
    """Fold a BM25 store's per-batch stats rows on the driver
    (``sources/store.py::read_small_store`` — no Spark job) →
    ``n``/``total_dl`` (the served sums; a column absent from a file
    reads as NULL there and sums skip NULLs, as the ``mergeSchema``
    Spark read did) and the recorded ``postings_files`` /
    ``tombstone_files`` manifests. A save or append row records
    postings, a delete row tombstones; a row recording neither is from
    an older format and refused."""
    from ons_utils_spark.sources.store import read_small_store

    cols = read_small_store(
        f"{store_path}/stats",
        ["n", "total_dl", "postings_files", "tombstone_files"],
    ).to_pydict()
    if any(
        p is None and t is None
        for p, t in zip(cols["postings_files"], cols["tombstone_files"])
    ):
        raise ValueError(
            f"BM25 index at {store_path!r} lacks the "
            "consistency witness (a postings_files or tombstone_files "
            "manifest on every stats row) — an older or foreign store; "
            "rebuild it with save_bm25_index or bm25_index_append"
        )

    def total(c):
        v = [x for x in cols[c] if x is not None]
        return sum(v) if v else None

    return {
        "n": total("n"),
        "total_dl": total("total_dl"),
        "postings_files": cols["postings_files"],
        "tombstone_files": cols["tombstone_files"],
    }


# Above this many query terms the indexed scan swaps its pushdown
# In-filter for a broadcast semi-join: the In list is what makes
# row-group pruning work (it reaches the parquet reader), but it is
# also O(|query|) plan literals — the wide-profile hazard the
# corpus-scan forms avoid. 64 terms ≈ the point where the plan cost
# outweighs pruning on a term-sorted store.
_BM25_INDEX_ISIN_MAX = 64


def _filter_postings_terms(postings, qt: "list[str]"):
    """The indexed scan's term predicate — the branch the pushdown test
    pins: an ``In`` literal up to ``_BM25_INDEX_ISIN_MAX`` terms (on a
    term-SORTED store it reaches the parquet reader and prunes row
    groups, which a semi-join cannot), a broadcast semi-join past it
    (bounded plan for wide profiles)."""
    from pyspark.sql import functions as F

    if len(qt) <= _BM25_INDEX_ISIN_MAX:
        return postings.where(F.col("term").isin(qt))
    vocab = local_rows_df(
        postings.sparkSession, [(t,) for t in qt], "term string"
    )
    return postings.join(F.broadcast(vocab), "term", "left_semi")


def _index_stats_fold(stats):
    """The stats table as the scorers' 1-row broadcast aggregate —
    ``(__n, __avgdl)`` with the SAME exact-integer division
    :func:`bm25_scores` uses, so indexed scores replay bit-for-bit."""
    from pyspark.sql import functions as F

    return stats.select(
        F.col("n").alias("__n"),
        (F.col("total_dl").cast("double") / F.col("n")).alias("__avgdl"),
    )


def bm25_scores_indexed(
    postings,
    stats,
    query_terms: "Sequence[str]",
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 6,
):
    """:func:`bm25_scores` answered from a prebuilt index — NO corpus
    scan, no tokenize: filter the postings to the query terms, fold the
    same shared contribution formula (:func:`_bm25_contrib`), sum in
    exact ``decimal(38,18)``. Bit-identical to the corpus-scan form on
    the same corpus (pinned in tests; the oracle twin is the same SQL).

    The term filter is an ``isin`` literal up to
    ``_BM25_INDEX_ISIN_MAX`` terms — on a term-SORTED store that
    pushes into the parquet reader and prunes row groups, which a
    semi-join cannot — and a broadcast semi-join past it (wide
    profiles: bounded plan beats pruning).
    """
    from pyspark.sql import functions as F

    qt = _normalize_query_terms(query_terms)
    # LAZY localCheckpoint, not an eager one (r13): both consumers (the
    # dfs aggregate's broadcast build and the scoring join) read the
    # same materialized pruned rows either way, but the eager form paid
    # one extra driver-blocking job per scorer call before any consumer
    # ran; lazily, the first consumer's job materializes the blocks.
    # NOT ``.persist()``: CacheManager matches plan-EQUAL reads (file
    # reads canonicalize by root path, not by file listing), so a
    # cached scorer plan over a store path would silently serve STALE
    # rows to a later scorer call after an append to the same path —
    # the RDD-scoped checkpoint is invisible to plan matching (pinned
    # by test_serve_append_serve_sees_fresh_rows).
    tf = _filter_postings_terms(postings, qt).select(
        "term", "id", "tf", F.col("dl").alias("__dl")
    ).localCheckpoint(eager=False)
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    hits = (
        tf.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(_index_stats_fold(stats)))
    )
    return _fold_bm25(hits, ["id"], k1, b, round_dp)


def bm25_topk_indexed(
    postings,
    stats,
    query_terms: "Sequence[str]",
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 6,
):
    """Top-``k`` by :func:`bm25_scores_indexed` (ties by id) — plans as
    TakeOrderedAndProject over the index-served scores."""
    from pyspark.sql import functions as F

    return (
        bm25_scores_indexed(postings, stats, query_terms, k1, b, round_dp)
        .orderBy(F.col("bm25").desc(), F.col("id").asc())
        .limit(topk)
    )


def bm25_batch_topk_indexed(
    postings,
    stats,
    queries,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 6,
):
    """:func:`bm25_batch_topk` answered from a prebuilt index — the
    whole query TABLE scored with no corpus scan: postings semi-join
    the broadcast union vocabulary (a batch profile is inherently wide,
    so the semi-join form — not the In-pushdown — is always right
    here), per-query fan-out happens after the per-(id, term) rows, and
    top-k is a window partitioned by query. Bit-identical to the
    corpus-scan batch form — the validation, scoring fold, and top-k
    window are the SAME shared helpers (:func:`_query_table_vocab`,
    :func:`_fold_bm25`, :func:`_per_query_topk`), not copies.
    """
    from pyspark.sql import functions as F

    qt, vocab = _query_table_vocab(queries, query_id_col, terms_col)
    # LAZY localCheckpoint, not an eager one (r13): both consumers (the
    # dfs aggregate's broadcast build and the scoring join) read the
    # same materialized rows either way, but the eager form paid one
    # extra driver-blocking job per scorer call before any consumer
    # ran; lazily, the first consumer's job materializes the blocks.
    # NOT ``.persist()`` (the first r13 form): CacheManager matches
    # plan-EQUAL reads (file reads canonicalize by root path, not by
    # file listing), so the cached pruned fragment would silently serve
    # STALE rows to a plan-identical scorer call issued after an append
    # to the same store path — the RDD-scoped checkpoint is invisible
    # to plan matching and each call materializes its own read (pinned
    # by test_serve_append_serve_sees_fresh_rows).
    tf = (
        postings.join(F.broadcast(vocab), "term", "left_semi")
        .select("term", "id", "tf", F.col("dl").alias("__dl"))
        .localCheckpoint(eager=False)
    )
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    hits = (
        tf.join(F.broadcast(dfs), "term")
        .join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(_index_stats_fold(stats)))
    )
    scored = _fold_bm25(hits, ["qid", "id"], k1, b, round_dp)
    return _per_query_topk(scored, topk)


def bm25_index_append(
    df,
    id_col: str,
    text_col: str,
    store_path: str,
    batch_id: "int | None" = None,
) -> None:
    """Append one batch of NEW documents to a BM25 index — two delta
    stores under ``store_path`` (the shared
    ``sources/store.py`` recipe): ``postings/`` (this batch's
    ``(term, id, tf, dl)`` rows) and ``stats/`` (this batch's one-row
    ``(n, total_dl)`` — SUM-mergeable, like the Count-Min cells).

    Contract: every document in a batch must be NEW to the store —
    postings rows from distinct new-doc batches are disjoint, so the
    loader's fold is a plain union, and the stats fold a plain sum.
    Re-ingesting a document double-counts both (the same new-keys
    contract as the incremental gram index). A streaming replay (same
    ``batch_id``) statically overwrites exactly its own partition in
    BOTH stores, so checkpointed at-least-once retries stay
    exactly-once. The Count-Min compaction caveat applies to ``stats/``
    (sum-merged): compact only while the writer is stopped.

    Crash pairing: the postings partition lands FIRST; the stats row,
    written last, carries the manifest of the postings files this
    append wrote (``sources/store.py``'s BM25 commit manifest), so a
    crash in between leaves files no stats row names, which
    :func:`load_bm25_index` refuses to serve. Recovery:
    with an explicit ``batch_id``, simply re-run the append — the
    partition overwrite repairs both halves; sentinel
    (``batch_id=None``) appends are NOT retry-safe (a blind re-run
    double-appends the postings that did land), so retryable batch
    ingestion should always pass a unique non-negative ``batch_id``.
    """
    from pyspark.sql import functions as F

    from ons_utils_spark.sources.store import (
        file_manifest, partitioned_delta_append,
    )

    postings, stats = bm25_index_build(df, id_col, text_col)
    postings_path = f"{store_path}/postings"
    part = -1 if batch_id is None else batch_id
    before = file_manifest(postings_path, part) if batch_id is None else None
    partitioned_delta_append(postings, postings_path, batch_id=batch_id)
    manifest = file_manifest(postings_path, part, since=before)
    partitioned_delta_append(
        stats.select("n", "total_dl", F.lit(manifest).alias("postings_files")),
        f"{store_path}/stats", batch_id=batch_id,
    )


def bm25_index_compact(spark, store_path: str) -> None:
    """Compact a BM25 index — the maintenance half of the
    append-only contract: a long-lived index accumulates one
    ``batch_id`` partition per append until partition DISCOVERY — not
    the merge-on-read fold — dominates load time; compaction collapses
    both substores to a single sentinel partition holding exactly what
    the loader serves (postings: the disjoint-batch union; stats: the
    one summed exact-integer row with its manifest).

    It runs :func:`bm25_index_vacuum`, whose one whole-store write
    (:func:`_write_bm25_store`, the save's writer) replaces both
    substores as one unit: a manifest names files, so a crash between
    two separate swaps would pair rewritten postings with stats rows
    recording the old files. A store with pending tombstones is refused
    — that is the vacuum's job, which applies the deletes on the way.
    Served scores are unchanged (pinned in tests: append ×3 → compact →
    load ≡ one-shot build, and a post-compaction append still folds in).

    **Writer-stopped caveat** (``stats/`` is SUM-merged): compact only
    while the streaming writer is stopped AND its checkpoint has
    advanced past every batch being compacted. A checkpointed replay of
    a compacted ``batch_id`` can no longer overwrite its own partition
    — it would re-APPEND those documents' postings and re-SUM their
    stats, double-counting both.
    """
    from ons_utils_spark.sources.store import dir_exists

    if dir_exists(f"{store_path}/tombstones"):
        raise ValueError(
            f"BM25 index at {store_path!r} has pending delete "
            "tombstones — compaction only re-lays-out a tombstone-free "
            "store. Run bm25_index_vacuum instead: it applies the deletes "
            "and compacts in ONE whole-store promotion."
        )
    bm25_index_vacuum(spark, store_path)


def bm25_index_delete(
    spark,
    store_path: str,
    ids: "Sequence",
    batch_id: int,
) -> None:
    """Delete documents from a BM25 index by id — the
    retrieval twin of :func:`pq.ivf_pq_table_delete` (the GDPR /
    stale-document maintenance path), adapted to this store's exact
    corpus statistics. Two paired writes, both replay-idempotent
    partition overwrites under the SAME ``batch_id``:

    1. a tombstone batch under ``<store>/tombstones`` — the loader
       filters every posting row whose document was deleted at or after
       the row's own batch (``sources/store.py::append_tombstones``
       semantics: a LATER :func:`bm25_index_append` of the same id
       serves again — delete-then-reinsert is the update idiom);
    2. a NEGATIVE stats delta under ``<store>/stats`` — exactly the
       ``(n, total_dl)`` the dead documents contributed, computed here
       from the store's live-as-of-``batch_id`` view (data batches
       ≤ ``batch_id``, tombstones < ``batch_id`` — deterministic on
       replay no matter what landed since), so folded idf/avgdl stay
       bit-identical to a one-shot build over the live corpus. The
       delta row, written last, carries the manifest of the tombstone
       files, so a crash BETWEEN the two writes fails loudly on load
       (re-run the delete to repair) instead of serving rows without
       their stats decrement.

    Every requested id must be LIVE in the store as of ``batch_id`` —
    an unknown id raises (unlike the ANN store, a silent no-op here
    would desynchronize the stats the caller believes it adjusted),
    and so does a zero-token document, whose membership in ``n`` the
    postings layout cannot see; both are named in the error. An append
    and a delete must NOT share a ``batch_id`` (each would overwrite
    the other's stats partition on replay) — a stats partition already
    holding an append's row raises. ``batch_id`` must be ≥ 0: a delete
    is only meaningful relative to the append order. O(ids) driver
    memory; the store is never rewritten (see :func:`bm25_index_vacuum`
    for physical application). The ids are checked on the driver
    (``sources/store.py::tombstone_ids``); the stats partition, the
    prior tombstones and the postings schema are read on the driver;
    the live-id lookup over the postings is the one Spark scan."""
    from pyspark.sql import functions as F

    from ons_utils_spark.sources.store import (
        append_tombstones, apply_tombstones, dir_exists, file_manifest,
        footer_schema, load_tombstone_watermarks, read_small_store,
        tombstone_ids,
    )

    if batch_id is None or int(batch_id) < 0:
        raise ValueError(
            f"deletes require an explicit non-negative batch_id (got "
            f"{batch_id}) — the tombstone watermark orders against "
            "append batches"
        )
    batch_id = int(batch_id)
    ids = list(ids)
    postings_path = f"{store_path}/postings"
    raw_postings = spark.read.schema(footer_schema(postings_path)).parquet(
        postings_path
    )
    id_type = raw_postings.schema["id"].dataType
    ids_df = tombstone_ids(spark, ids, id_type)
    # Refuse a batch_id collision with an APPEND before writing anything:
    # both operations statically overwrite stats/batch_id=<id>, so
    # sharing one would silently erase the other's stats row on replay.
    stats_part = f"{store_path}/stats/batch_id={batch_id}"
    if dir_exists(stats_part) and any(
        m is not None
        for m in read_small_store(stats_part, ["postings_files"])
        .column("postings_files").to_pylist()
    ):
        raise ValueError(
            f"batch_id {batch_id} already holds an APPEND's stats "
            f"row at {store_path!r} — appends and deletes must use "
            "distinct batch_ids (each statically overwrites its own "
            "stats partition on replay)"
        )
    # The live-as-of-batch_id view: data batches <= batch_id, minus rows
    # killed by EARLIER tombstones — later activity is excluded on both
    # sides, so a checkpointed replay recomputes the identical delta.
    tomb_path = f"{store_path}/tombstones"
    view = apply_tombstones(
        raw_postings.where(F.col("batch_id") <= batch_id),
        load_tombstone_watermarks(spark, tomb_path, before=batch_id),
    )
    dead = (
        view.join(F.broadcast(ids_df.withColumnRenamed("id", "__del_id")),
                  view["id"] == F.col("__del_id"), "left_semi")
        .select("id", "dl")
        .distinct()
        .collect()
    )
    found = {r["id"] for r in dead}
    missing = [x for x in ids if x not in found]
    if missing:
        raise ValueError(
            f"{len(missing)} id(s) in the delete batch are not live in "
            f"the index as of batch {batch_id} (first few: "
            f"{missing[:5]!r}) — either never ingested, already "
            "deleted, appended only AFTER this batch_id, or a "
            "zero-token document (invisible to the postings layout, so "
            "its n-membership cannot be decremented; such documents "
            "cannot be deleted from this store)"
        )
    # Tombstones land FIRST; the stats delta recording their files is
    # the commit point — the loader refuses the in-between state.
    append_tombstones(spark, ids, tomb_path, batch_id, id_type)
    local_rows_df(
        spark,
        [(-len(dead), -sum(r["dl"] for r in dead),
          file_manifest(tomb_path, batch_id))],
        "n long, total_dl long, tombstone_files string",
    ).write.mode("overwrite").parquet(stats_part)


def bm25_index_vacuum(spark, store_path: str) -> None:
    """Apply a BM25 index's pending tombstones PHYSICALLY and compact
    it: load the live (tombstone-filtered) postings and the exact folded
    stats, and write them back as a fresh store through
    :func:`_write_bm25_store` — the save's writer, staged and promoted
    as one unit, so a crash leaves either the old store or the new one
    (debris from a previous crashed promotion is repaired on entry).
    The tombstone substore vanishes with the old root — deletes, their
    stats deltas, and the rows they killed retire TOGETHER. Rewriting
    survivors to the sentinel batch under the old watermarks would
    re-kill every delete-then-reinsert row — the same hazard
    :func:`pq.ivf_pq_table_compact` routes around via a fresh
    generation. The rows are written unsorted; only
    :func:`save_bm25_index` pays the term-range sort.

    Valid on a tombstone-free store too (then it is exactly
    :func:`bm25_index_compact`). The **writer-stopped caveat** applies
    doubly: a checkpointed replay of any vacuumed batch — append or
    delete — can no longer overwrite its own partition."""
    from ons_utils_spark.sources.store import repair_swap_debris

    repair_swap_debris(store_path)
    # Checks both manifests and applies the watermark filter.
    _write_bm25_store(*load_bm25_index(spark, store_path), store_path)


def chunk_documents(
    df,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
):
    """Split documents into overlapping token-window chunks → one row
    per chunk: ``(id, chunk_id, start, n_tokens, chunk_text)`` — the
    RAG-ingestion primitive between raw documents and the retrieval
    stores (chunk → embed → ``ivf_*_table_append`` /
    ``bm25_index_append``), and the long-document answer for
    fixed-context models (``corpus.pack_sequences`` packs SHORT
    sequences together; this is its complement).

    Chunking rule (deterministic, integer-exact): tokens are the
    engine's whitespace tokenization; chunk ``i`` starts at token
    ``i·stride`` (``stride = chunk_tokens − overlap``) and takes
    ``chunk_tokens`` tokens (the final chunk clamps to the document
    end); the chunk count is ``1 + ceil(max(0, n − chunk_tokens) /
    stride)``, which covers every token exactly once per non-overlap
    position and never emits a trailing chunk that is a pure suffix of
    the previous one. Zero-token documents emit nothing.

    Pure row-local expressions (tokenize → ``sequence`` → ``slice`` →
    ``array_join``), whole-stage codegen, no shuffle — chunking a
    100 TB corpus is a map-only scan whose output rows are what you
    feed the embedding UDF. ``overlap`` must satisfy
    ``0 ≤ overlap < chunk_tokens``.
    """
    from pyspark.sql import functions as F

    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1 (got {chunk_tokens})")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens) (got {overlap} for "
            f"chunk_tokens={chunk_tokens})"
        )
    stride = chunk_tokens - overlap
    toks = F.coalesce(tokenize(text_col), F.array())
    n = F.size(toks)
    n_chunks = (
        F.lit(1)
        + F.floor(
            (F.greatest(n - chunk_tokens, F.lit(0)) + stride - 1)
            / stride
        )
    ).cast("int")
    chunked = (
        df.select(
            F.col(id_col).alias("id"),
            toks.alias("__toks"),
            n.alias("__n"),
            n_chunks.alias("__nc"),
        )
        .where(F.col("__n") > 0)
        .select(
            "id",
            F.explode(
                F.sequence(F.lit(0), F.col("__nc") - 1)
            ).alias("chunk_id"),
            "__toks",
        )
    )
    ctoks = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return chunked.select(
        "id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        (F.col("chunk_id") * stride).cast("int").alias("start"),
        F.size(ctoks).cast("int").alias("n_tokens"),
        F.array_join(ctoks, " ").alias("chunk_text"),
    )


def hash_embed(
    df,
    text_col: str,
    dim: int = 16,
    out_col: str = "embedding",
    method: str = "vector",
):
    """Hashed bag-of-tokens featurizer: ``out_col`` becomes a dense
    ``array<double>`` of length ``dim`` where slot ``i`` counts the
    tokens whose ``pmod(xxhash64(token), dim)`` lands on ``i`` — the
    hashing trick (Weinberger et al. 2009), the deterministic
    vocabulary-free stand-in for a model embedder that keeps the whole
    chunk→embed→index→retrieve pipeline SQL-replayable (xxhash64 has a
    bit-exact DuckDB twin in ``plans/oracle_xxh64.py``, and counts are
    integer-valued doubles — no float accumulation anywhere).

    No shuffle either way: embedding a 100 TB chunk table is a
    map-only scan. ``method="vector"`` (default, r13 guide §4.2)
    computes the token-hash buckets JVM-side and BINCOUNTS them in one
    Arrow pass per partition — the expression form's per-slot
    ``size(filter(buckets, b == i))`` is a higher-order function
    (CodegenFallback), so its O(tokens × dim) ran as interpreted
    lambda evaluation per row. Counts are identical integers (pinned
    in tests). ``method="expr"`` keeps the pure-expression form — use
    it for tiny literal frames (e.g. a query workload) where staying a
    LocalRelation keeps size stats known-small for downstream
    broadcast decisions. Empty/NULL text embeds to the zero vector.
    Use a real model UDF in its place when quality matters; every
    downstream consumer (``ivf_sq_table_append``, ``hybrid_batch_topk``)
    only sees ``array<double>``.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1 (got {dim})")
    if method not in ("vector", "expr"):
        raise ValueError(f"method must be 'vector' or 'expr', got {method!r}")
    toks = F.coalesce(tokenize(text_col), F.array())
    buckets = F.transform(
        toks, lambda t: F.pmod(F.xxhash64(t), F.lit(dim))
    )
    if method == "expr":
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.size(
                F.filter(buckets, lambda b: b == i)
            ).cast("double"),
        )
        return df.withColumn(out_col, vec)

    def fn(bs):
        import numpy as np
        import pandas as pd

        n = len(bs)
        vals = bs.to_numpy(dtype=object, copy=False)
        sizes = np.fromiter(
            (0 if b is None else len(b) for b in vals),
            dtype=np.int64, count=n,
        )
        total = int(sizes.sum())
        if total == 0:
            zero = [0.0] * dim
            return pd.Series([list(zero) for _ in range(n)])
        flat = np.concatenate(
            [np.asarray(b, dtype=np.int64) for b in vals
             if b is not None and len(b)]
        )
        row_idx = np.repeat(np.arange(n, dtype=np.int64), sizes)
        counts = np.bincount(
            row_idx * dim + flat, minlength=n * dim
        ).reshape(n, dim).astype(np.float64)
        return pd.Series(list(counts))

    udf = F.pandas_udf(fn, "array<double>")
    return df.withColumn(out_col, udf(buckets))
