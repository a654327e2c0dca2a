"""Product quantization (PQ) for embedding columns: build + ADC top-k.

LLM-data-pipeline extension (no reference analogue). Jégou et al., "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011) — the compression
behind FAISS-style billion-vector ANN: split each d-dim vector into ``m``
contiguous subspaces, k-means each subspace independently, store only the
``m`` one-byte-ish code indices per vector (64-d float32 → 4 codes is a
64× compression), and answer queries with Asymmetric Distance Computation
(ADC): a driver-side lookup table of ``m × k`` exact query-to-centroid
distances, so scoring a database vector is ``m`` table lookups + adds —
no float vector ever read at query time.

Determinism: each subspace codebook is trained with
:func:`ons_utils_spark.operators.semantic.kmeans_lloyd` (Knuth-hash
seeded init, decimal-exact centroid means), so codebooks, codes, and ADC
scores are bit-reproducible — the DuckDB oracle replays all of it.

Scale story (100 TB): training reads the corpus ``m × n_iter`` times but
each pass is the linear Lloyd step over a ``localCheckpoint``'d slice
projection (train on a sample in production — codebooks need ~100k
vectors, not the corpus). Encoding is one scan (argmin per subspace,
codegen or Arrow/BLAS — inherited from semantic.py). The coded table is
``m`` ints per row; an ADC scan is a row-local expression over it and
top-k plans as TakeOrderedAndProject (per-partition heaps, no global
sort). IVF partitioning composes on top: bucket by a coarse quantizer
(similarity.ivf_build) and PQ-scan only the probed lists.
"""

from __future__ import annotations

from typing import List, NamedTuple, Sequence, Tuple

from pyspark.sql import DataFrame as SparkDF, functions as F

from ons_utils_spark.functions.arrays import array_dot
from ons_utils_spark.functions.localrel import local_rows_df
from ons_utils_spark.operators.semantic import (
    KNUTH_HASH,
    _assign,
    _py_dot,
    _resolve_method,
    kmeans_lloyd,
    resolve_train,
)
from ons_utils_spark.sources.store import (
    INDEX_FORMAT_VERSION,
    CodedTableCodec,
    _check_residual_flag,
    _tag_residual,
    coded_table_append,
    coded_table_compact,
    coded_table_delete,
    coded_table_load,
    coded_table_save,
    read_index_artifact,
    write_index_artifact,
)


def _check_geometry(dim: int, m: int) -> int:
    if m < 1 or dim % m != 0:
        raise ValueError(f"m={m} must divide the vector dim {dim}")
    return dim // m


def pq_build(
    df: SparkDF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 16,
    n_iter: int = 1,
    round_dp: int = 6,
    method: str = "auto",
    train_on: "SparkDF | float | None" = None,
    carry_cols: Sequence[str] = (),
) -> Tuple[SparkDF, List[List[List[float]]]]:
    """Train per-subspace codebooks and encode the corpus.

    Returns ``(codes, codebooks)``: ``codes`` is ``(id, codes)`` with
    ``codes`` an ``array<int>`` of length ``m`` (``codes[i]`` = index of
    the nearest centroid of subspace ``i``); ``codebooks[i][j]`` is the
    ``dim/m``-dim centroid ``j`` of subspace ``i``.

    The slice projection is checkpointed once and feeds all ``m``
    trainings and the final encode — the corpus is not re-sliced per
    subspace. Encoding reuses the literal-codegen argmin (total
    expression size m·k·(dim/m) = k·dim, the same as one full k-means
    assign) or the Arrow/BLAS path, per ``method``.

    ``train_on`` (see :func:`semantic.resolve_train`) restricts codebook
    training to a slice — ``0.01`` or a materialized ~100k-vector sample
    is the 100 TB practice; the full corpus is still ENCODED. A fraction
    samples deterministically by id hash; a DataFrame (same id/vec
    schema as ``df``) is sliced the same way the corpus is.
    ``carry_cols`` are passed through to the coded output unchanged —
    :func:`ivf_pq_build` rides the coarse list id through here so the
    coded table needs no join back against the assignment.
    """
    sub_d = _check_geometry(dim, m)
    method = _resolve_method(method, k)
    carry = list(carry_cols)

    def _slice(src: SparkDF, extra: Sequence[str]) -> SparkDF:
        return src.select(
            F.col(id_col).alias("id"),
            *[
                F.slice(F.col(vec_col), i * sub_d + 1, sub_d).alias(f"sub{i}")
                for i in range(m)
            ],
            *extra,
        )

    slices = _slice(df, carry).localCheckpoint(eager=True)
    if train_on is None:
        tslices = slices
    elif isinstance(train_on, SparkDF):
        # Checkpoint like the corpus slices: the training frame feeds
        # every one of the m kmeans fits (seeds + per-iteration means),
        # ~m*(n_iter+1) executions of its lineage otherwise.
        tslices = _slice(train_on, ()).localCheckpoint(eager=True)
    else:
        tslices = resolve_train(slices, train_on, "id")

    codebooks = _train_subspace_codebooks(
        tslices, m, k, n_iter, round_dp, method
    )

    codes = _ENCODERS[method](slices, m, codebooks, carry)
    return codes, codebooks


def _train_subspace_codebooks(
    tslices: SparkDF,
    m: int,
    k: int,
    n_iter: int,
    round_dp: int,
    method: str,
) -> List[List[List[float]]]:
    """All ``m`` per-subspace Lloyd trainings fused into ONE Spark job
    per step — bit-identical to ``m`` sequential ``kmeans_lloyd`` calls
    over ``sub0..sub{m-1}`` (the shape :func:`pq_build` ran through
    r13's build rounds), at ``1 + n_iter`` jobs instead of
    ``m × (1 + n_iter)`` and one pass over the training slice per step
    instead of ``m``.

    Why the fusion is exact (guide §1.2 — change the distributed
    algorithm without changing the arithmetic):

    - **Seeds.** ``kmeans_lloyd`` orders training rows by
      ``(pmod(id·KNUTH, 2³²), id)`` — a key that depends only on the id,
      so all ``m`` subspace trainings pick the SAME ``k`` rows; the m
      seed sets are the m slices of one ``TakeOrdered`` collect.
    - **Means.** The per-``(cluster, pos)`` mean is an exact decimal sum
      divided by a count — order-independent — computed by the IDENTICAL
      expression; grouping additionally by the subspace index changes
      group membership for no row. Assignments come from the same
      :func:`semantic._assign` argmin (same tie-break) per branch.
    - **Empty clusters** keep their previous centroid, per subspace —
      the same fallback, now keyed by ``(subspace, cluster)``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    h = (
        F.col("id").cast("decimal(38,0)") * F.lit(KNUTH_HASH)
    ) % F.lit(2**32)
    seed_rows = (
        tslices.select("id", *[f"sub{i}" for i in range(m)])
        .orderBy(h.asc(), F.col("id").asc())
        .limit(k)
        .collect()
    )
    if len(seed_rows) < k:
        raise ValueError(
            f"k={k} exceeds the number of training rows ({len(seed_rows)})"
        )
    cents: List[List[List[float]]] = [
        [[float(x) for x in r[f"sub{i}"]] for r in seed_rows]
        for i in range(m)
    ]

    for _ in range(n_iter):
        branches = []
        for i in range(m):
            sub = tslices.select(F.col(f"sub{i}").alias("__v"))
            sub = sub.withColumn(
                "__vv", array_dot(F.col("__v"), F.col("__v"))
            )
            asg = _assign(sub, "__v", cents[i], method)
            branches.append(
                asg.select(
                    F.lit(i).alias("__sub"),
                    "__cluster",
                    F.posexplode(F.col("__v")).alias("pos", "val"),
                )
            )
        u = branches[0]
        for b in branches[1:]:
            u = u.union(b)
        means = (
            u.groupBy("__sub", "__cluster", "pos")
            .agg(
                F.round(
                    F.sum(F.col("val").cast("double").cast("decimal(38,18)"))
                    .cast("double")
                    / F.count(F.lit(1)),
                    round_dp,
                ).alias("v")
            )
            .groupBy("__sub", "__cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s["v"],
                ).alias("cvec")
            )
            .collect()
        )
        new = {
            (r["__sub"], r["__cluster"]): [float(x) for x in r["cvec"]]
            for r in means
        }
        cents = [
            [new.get((i, j), cents[i][j]) for j in range(k)]
            for i in range(m)
        ]
    return cents


def _encode_literal(slices: SparkDF, m: int, codebooks, carry=()) -> SparkDF:
    """Codegen argmin over literal codebook centroids — the bit-exact
    small-k encode path. Same per-centroid ``vv + c·c − 2·v·c`` fold and
    struct-ordered ``array_min`` tie-break (lower code wins) as
    :func:`semantic._assign_literal`; shared by :func:`pq_build` and
    :func:`ivf_pq_encode` so build-time and append-time codes come from
    ONE copy of the parity-critical expression."""
    code_cols = []
    for i in range(m):
        entries = []
        vec = F.col(f"sub{i}")
        vv = array_dot(vec, vec)
        for j, c in enumerate(codebooks[i]):
            clit = F.array(*[F.lit(float(x)) for x in c])
            dist = vv + F.lit(_py_dot(c, c)) - 2 * array_dot(vec, clit)
            entries.append(F.struct(dist.alias("d"), F.lit(j).alias("j")))
        code_cols.append(F.array_min(F.array(*entries))["j"])
    return slices.select("id", F.array(*code_cols).alias("codes"), *carry)


def _encode_vector(slices: SparkDF, m: int, codebooks, carry=()) -> SparkDF:
    """Arrow-batched encode with the literal path's EXACT arithmetic —
    the default (``auto``) encode engine. Bit-identical to
    :func:`_encode_literal` (pinned in tests): per-subspace dots and
    squared norms accumulate dimension-major (:func:`_fold_dots` /
    :func:`_fold_sq` — the fold's IEEE add order), per-centroid ``c·c``
    is the same driver-side :func:`_py_dot`, distances associate as
    ``(vv + cc) − 2·G``, and ``argmin`` takes the first minimum (the
    ``array_min`` struct tie-break: lower code wins). NaN distances rank
    last, as in Spark's total order. Replaces the m·k interpreted
    ``zip_with``/``aggregate`` folds per row AND the m·k·sub_d literal
    py4j/codegen plumbing with d ufunc passes per batch."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, IntegerType, StructField, StructType,
    )

    mats = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    ccs = [
        np.asarray([_py_dot(c, c) for c in cb], dtype=np.float64)
        for cb in codebooks
    ]
    schema = StructType([
        StructField("id", slices.schema["id"].dataType),
        StructField("codes", ArrayType(IntegerType())),
        *[StructField(c, slices.schema[c].dataType) for c in carry],
    ])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            out = np.empty((n, m), dtype=np.int32)
            for i in range(m):
                X = np.asarray(pdf[f"sub{i}"].tolist(), dtype=np.float64)
                d2 = (
                    _fold_sq(X)[:, None] + ccs[i][None, :]
                ) - 2.0 * _fold_dots(X, mats[i])
                out[:, i] = np.where(
                    np.isnan(d2), np.inf, d2
                ).argmin(axis=1)
            data = {"id": pdf["id"].to_numpy(), "codes": list(out)}
            for c in carry:
                data[c] = pdf[c].to_numpy()
            yield pd.DataFrame(data)

    return slices.mapInPandas(gen, schema)


def _encode_blas(slices: SparkDF, m: int, codebooks, carry=()) -> SparkDF:
    """One Arrow pass encoding all subspaces via per-subspace matmuls."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, IntegerType, StructField, StructType,
    )

    mats = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    ccs = [np.einsum("ij,ij->i", C, C) for C in mats]
    # Preserve the caller's id type — hardcoding LongType would make the
    # blas path reject (or coerce) non-bigint ids the literal path accepts.
    schema = StructType([
        StructField("id", slices.schema["id"].dataType),
        StructField("codes", ArrayType(IntegerType())),
        *[StructField(c, slices.schema[c].dataType) for c in carry],
    ])

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            out = np.empty((n, m), dtype=np.int32)
            for i in range(m):
                X = np.asarray(pdf[f"sub{i}"].tolist(), dtype=np.float64)
                vv = np.einsum("ij,ij->i", X, X)
                d2 = vv[:, None] + ccs[i][None, :] - 2.0 * (X @ mats[i].T)
                out[:, i] = d2.argmin(axis=1)
            import pandas as pd

            data = {"id": pdf["id"].to_numpy(), "codes": list(out)}
            for c in carry:
                data[c] = pdf[c].to_numpy()
            yield pd.DataFrame(data)

    return slices.mapInPandas(gen, schema)


#: Encode engine dispatch — keys are the resolved ``method`` names
#: (:func:`semantic._resolve_method`): ``vector`` (auto default, exact
#: Arrow fold), ``literal`` (codegen expression tree, bit-identical),
#: ``blas`` (GEMM, ulp-level tie divergence possible).
_ENCODERS = {
    "literal": _encode_literal,
    "vector": _encode_vector,
    "blas": _encode_blas,
}


def _subspace_luts(
    q: Sequence[float], codebooks: List[List[List[float]]]
) -> List[List[float]]:
    """Per-subspace ADC lookup tables for a query-like vector: exact
    ``‖q_i − c_ij‖²`` via the same sequential-fold ``qq + cc − 2·q·c``
    form every oracle replays. Shared by the raw and residual ADC
    paths — the fold ORDER is load-bearing for bit parity, so there is
    exactly one copy of it. Validates the vector length against the
    codebook geometry (a silently-truncating ``zip`` would otherwise
    return plausible-looking garbage scores)."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    if len(q) != m * sub_d:
        raise ValueError(f"query dim {len(q)} != m*sub_d = {m * sub_d}")
    luts = []
    for i in range(m):
        qs = q[i * sub_d:(i + 1) * sub_d]
        qq = _py_dot(qs, qs)
        luts.append([
            qq + _py_dot(c, c) - 2 * _py_dot(qs, c) for c in codebooks[i]
        ])
    return luts


# Max TOTAL plan literals (m·k raw, n_probe·m·k residual) before
# "auto" moves the ADC LUT fold off the literal-codegen path. Measured
# crossover (tools/pq_lut_probe.py, min-of-4 interleaved, both paths
# at every geometry): literal wins at 64–128 literals (0.18–0.24 s vs
# 0.23–0.41 s), TIES at 512 (0.46 vs 0.44), loses 2× at 1,024
# (0.71/0.54 s vs 0.38/0.28 s), 5× at 4,096, 39× at 32,768
# (FAISS-standard m=16, k=256, n_probe=8: 15.2 s vs 0.39 s) —
# Catalyst/Janino pay per literal on EVERY query's fresh plan. The cap
# sits ON the measured tie point; past it the same fold runs as one
# Arrow pass (identical IEEE add order, bit-identical scores — pinned
# in tests).
_ADC_LITERAL_MAX = 512

#: Cap on the batch-ANN LUT payload (n_q × [n_probe ×] m × k doubles)
#: shipped in the mapInPandas closure — pickled once per task, so a
#: multi-GB payload is an executor-OOM hazard long before it is a
#: driver one. 512 MiB ≈ 2k residual queries (n_probe=8) or 16k raw
#: queries at FAISS-standard m=16, k=256; past it the call raises a
#: sized error — per-query results are independent, so callers chunk
#: and union.
_BATCH_LUT_MAX_BYTES = 512 << 20


def _resolve_adc_method(method: str, n_literals: int) -> str:
    if method not in ("auto", "literal", "arrow"):
        raise ValueError(
            f"method must be 'auto', 'literal', or 'arrow' (got {method!r})"
        )
    if method == "auto":
        return "literal" if n_literals <= _ADC_LITERAL_MAX else "arrow"
    return method


def _np_adc_fold(lut_arr, C, pos=None):
    """THE numpy image of the literal ADC fold — sequential per-subspace
    float64 adds in the same IEEE order as the Catalyst expression.
    Shared by :func:`_adc_arrow` and :func:`ivf_pq_batch_topk`'s scorer
    (one copy of the parity-critical fold, like :func:`_subspace_luts`
    on the driver side). ``pos=None`` is the raw path (``lut_arr`` is
    ``m × k``); with ``pos`` (per-row probe positions), ``lut_arr`` is
    ``n_probe × m × k`` — the residual path."""
    m = lut_arr.shape[0] if pos is None else lut_arr.shape[1]
    if pos is None:
        s = lut_arr[0][C[:, 0]].copy()
        for i in range(1, m):
            s = s + lut_arr[i][C[:, i]]
    else:
        s = lut_arr[pos, 0, C[:, 0]].copy()
        for i in range(1, m):
            s = s + lut_arr[pos, i, C[:, i]]
    return s


def _fold_dots(A, B):
    """Pairwise dot products with :func:`_py_dot`'s exact IEEE
    semantics, vectorized dimension-major: ``out[..., j]`` accumulates
    ``A[..., d] * B[j, d]`` in ``d`` order — one multiply rounding plus
    one add rounding per step, the same two roundings in the same
    order as the interpreted fold (numpy's multiply and add are
    separate ufuncs, never fused into an FMA). ``A`` is ``(..., d)``,
    ``B`` is ``(k, d)`` → ``(..., k)``. This is what lets the batch
    driver stage be numpy-fast AND bit-identical to the single-query
    path's per-pair ``_py_dot`` loops (pinned in tests)."""
    import numpy as np

    out = np.zeros(A.shape[:-1] + (B.shape[0],), dtype=np.float64)
    for d in range(A.shape[-1]):
        out += A[..., d, None] * B[:, d]
    return out


def _fold_sq(A):
    """``_py_dot(v, v)`` for every row of ``A`` (any leading shape),
    same dimension-major sequential order as :func:`_fold_dots`."""
    import numpy as np

    out = np.zeros(A.shape[:-1], dtype=np.float64)
    for d in range(A.shape[-1]):
        out += A[..., d] * A[..., d]
    return out


def _codes_matrix(codes_series, ids):
    """The ``codes`` column of an Arrow batch → ``(n, m)`` int64 matrix.

    NULL codes (a NULL array or a NULL element — Arrow ships the latter
    as NaN in a float lane) raise a DESCRIPTIVE error naming the first
    offending id. This is the Arrow half of the scorers' malformed-
    coded-table contract: the literal fold's ``element_at`` over a
    NULL-derived index is undefined under codegen (measured: it can
    return an arbitrary in-range element, i.e. a plausible-looking
    garbage score — see the guard in :func:`pq_adc_scores`), so BOTH
    engines fail loudly instead of diverging silently."""
    import numpy as np

    lst = codes_series.tolist()

    def _bad(rid):
        return ValueError(
            f"coded table has a NULL codes entry at id {rid!r} "
            "— codes must be complete int arrays; rebuild or "
            "re-encode the offending rows"
        )

    try:
        arr = np.asarray(lst)
    except ValueError:
        arr = np.asarray(lst, dtype=object)
    if arr.dtype == object or arr.ndim != 2:
        for rid, c in zip(ids, lst):
            if c is None or any(v is None or v != v for v in c):
                raise _bad(rid)
        raise ValueError(
            "coded table has ragged codes arrays — every row must "
            f"carry the same m code entries (got shapes like "
            f"{[len(c) for c in lst[:3]]})"
        )
    if np.issubdtype(arr.dtype, np.floating):
        # Arrow ships list<int> containing nulls as a float lane with
        # NaN — casting that to int64 is silent garbage (int64 min),
        # so NaN must be caught BEFORE the cast.
        nan_rows = np.isnan(arr).any(axis=1)
        if nan_rows.any():
            raise _bad(ids.to_numpy()[nan_rows][0])
    return arr.astype(np.int64, copy=False)


def _guard_literal_score(score):
    """Wrap a literal-fold ADC score so NULL codes raise the same
    descriptive error as :func:`_codes_matrix` instead of evaluating
    ``element_at`` over a NULL-derived index — which Spark codegen
    leaves UNDEFINED (measured on 4.1: it can return an arbitrary
    in-range LUT entry, a silently-wrong score that survives top-k)."""
    bad = F.col("codes").isNull() | F.exists(
        F.col("codes"), lambda x: x.isNull()
    )
    return F.when(
        ~bad, score
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("coded table has a NULL codes entry at id "),
                F.col("id").cast("string"),
                F.lit(
                    " — codes must be complete int arrays; rebuild or "
                    "re-encode the offending rows"
                ),
            )
        ).cast("double")
    )


def _adc_arrow(
    codes: SparkDF,
    luts,
    probe: "List[int] | None" = None,
) -> SparkDF:
    """One Arrow pass computing the ADC fold ``Σ_i LUT[..][codes[i]]``
    as ``__adc_sum`` (unrounded — the caller rounds Spark-side, same
    ``F.round`` as the literal path). The adds run per-subspace in the
    SAME sequential order as the literal fold, elementwise in float64 —
    bit-identical scores, only the execution engine differs.

    ``probe=None`` is the raw path (``luts`` is ``m × k``);
    with ``probe``, ``luts`` is ``n_probe × m × k`` and each row's
    tables are picked by its ``__list``'s probe position (the residual
    path — rows are already filtered to probed lists)."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    lut_arr = np.asarray(luts, dtype=np.float64)
    pmap = None if probe is None else {int(l): p for p, l in enumerate(probe)}
    schema = StructType(
        list(codes.schema.fields) + [StructField("__adc_sum", DoubleType())]
    )

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            C = _codes_matrix(pdf["codes"], pdf["id"])
            if probe is None:
                s = _np_adc_fold(lut_arr, C)
            else:
                pos = np.fromiter(
                    (pmap[int(l)] for l in pdf["__list"]),
                    dtype=np.int64, count=n,
                )
                s = _np_adc_fold(lut_arr, C, pos)
            out = pdf.copy()
            out["__adc_sum"] = s
            yield out

    return codes.mapInPandas(gen, schema)


def pq_adc_scores(
    codes: SparkDF,
    codebooks: List[List[List[float]]],
    query_vec: Sequence[float],
    round_dp: int = 6,
    method: str = "auto",
) -> SparkDF:
    """Asymmetric distance of EVERY coded vector to ``query_vec``.

    The lookup table (exact ``‖q_i − c_ij‖²`` per subspace, computed
    driver-side with the same ``qq + cc − 2·q·c`` dot-product form the
    engines use) folds into a row-local expression: the score of a coded
    vector is ``Σ_i LUT[i][codes[i]]`` — ``m`` array lookups, no float
    vector touched. Returns ``(id, codes, adc_dist)``.

    ``method``: ``"literal"`` folds the LUT as ``m × k`` plan literals
    (whole-stage codegen, zero Python — right at small geometry);
    ``"arrow"`` runs the same fold as one Arrow pass (right at
    FAISS-standard k=256, where literal codegen pays seconds per plan —
    measured in SCALING.md §PQ geometry); ``"auto"`` (default) switches
    at ``_ADC_LITERAL_MAX`` total literals. Scores are bit-identical
    either way (same IEEE add order; pinned in tests).
    """
    m = len(codebooks)
    q = [float(v) for v in query_vec]
    luts = _subspace_luts(q, codebooks)
    if _resolve_adc_method(method, m * len(codebooks[0])) == "arrow":
        return _adc_arrow(codes, luts).select(
            "id", "codes",
            F.round(F.col("__adc_sum"), round_dp).alias("adc_dist"),
        )
    score = None
    for i in range(m):
        term = F.element_at(
            F.array(*[F.lit(v) for v in luts[i]]),
            F.element_at(F.col("codes"), i + 1) + 1,
        )
        score = term if score is None else score + term
    return codes.select(
        "id", "codes",
        F.round(_guard_literal_score(score), round_dp).alias("adc_dist"),
    )


def ivf_pq_build(
    df: SparkDF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_lists: int = 8,
    m: int = 4,
    k: int = 16,
    coarse_iter: int = 2,
    n_iter: int = 1,
    round_dp: int = 6,
    method: str = "auto",
    train_on: "SparkDF | float | None" = None,
    by_residual: bool = False,
) -> Tuple[SparkDF, List[List[float]], List[List[List[float]]]]:
    """IVF×PQ: coarse-quantize into ``n_lists`` inverted lists, PQ-encode
    every vector — the FAISS ``IVFx,PQy`` serving shape (Jégou et al.
    §V), fully deterministic.

    Returns ``(coded, coarse_centroids, codebooks)`` where ``coded`` is
    ``(id, codes, __list)``: ``__list`` the nearest coarse centroid
    (deterministic Lloyd — :func:`semantic.kmeans_lloyd`, so the DuckDB
    oracle replays it; swap :func:`similarity.ivf_build`'s ``pyspark.ml``
    KMeans in production if approximate centroids are acceptable), and
    ``codes`` the ``m`` subspace code indices.

    ``by_residual=False`` encodes RAW vectors; ``by_residual=True`` is
    the FAISS default refinement — codebooks train on and codes encode
    the RESIDUAL ``vec − coarse_centroid[__list]`` (an exact elementwise
    ``zip_with`` subtraction, so determinism and oracle parity are
    untouched). Residuals concentrate near the origin, so the same code
    budget quantizes finer; the cost is codebooks coupled to the coarse
    step (retrain both together) and per-probed-list query LUTs at
    serving time (``n_probe × m × k`` driver-side distances instead of
    ``m × k``). Measured gain in SCALING.md §IVF×PQ. Pass the SAME flag
    to :func:`ivf_pq_topk` — codes from one geometry scored in the
    other are meaningless.

    Scale story: ONE extra assignment pass over :func:`pq_build` — the
    list id rides through encoding via ``carry_cols``, no join back. At
    100 TB write ``coded`` partitioned by ``__list``
    (``sources/write.py``): a probe then scans ``n_probe`` partitions of
    an ``m``-byte-per-vector table — partition pruning + 64× compression
    is the billion-vector serving play. Train both stages on a sample
    via ``train_on``.
    """
    if by_residual and isinstance(train_on, SparkDF):
        # Argument check FIRST — the coarse training below is eager and
        # expensive; an invalid call must not pay for it.
        raise ValueError(
            "by_residual=True cannot take a raw-vector training "
            "DataFrame — the codebooks train on residuals, which depend "
            "on this build's coarse assignment; pass a fraction instead "
            "(the id-hash sample applies after the residual transform)"
        )
    assigned, coarse = kmeans_lloyd(
        df, id_col, vec_col, k=n_lists, n_iter=coarse_iter,
        round_dp=round_dp, method=method, train_on=train_on,
    )
    src = assigned.withColumn("__list", F.col("__cluster"))
    enc_col = vec_col
    if by_residual:
        src = _residual_transform(src, vec_col, coarse)
        enc_col = "__rvec"
    coded, codebooks = pq_build(
        src, id_col, enc_col, dim=dim, m=m, k=k, n_iter=n_iter,
        round_dp=round_dp, method=method, train_on=train_on,
        carry_cols=("__list",),
    )
    # Geometry tag IN DATA: codes from one geometry scored in the other
    # are plausible-looking garbage, so every scorer rejects a flag
    # mismatch via _check_residual_flag. The flag rides as COLUMN
    # METADATA on `codes` — part of the schema, so it survives
    # select/filter/cache AND a parquet round-trip (unlike the Python
    # attribute this replaces, which any DataFrame-producing call
    # silently dropped, disarming the guard for in-session tables).
    # The saved index remains the durable authority: ivf_pq_query
    # always scores with the STORED geometry.
    return _tag_residual(coded, by_residual), coarse, codebooks


def _residual_transform(src: SparkDF, vec_col: str, coarse) -> SparkDF:
    """Attach ``__rvec = vec − coarse_centroid[__list]`` — the exact
    elementwise ``zip_with`` subtraction both the build and the
    stored-index encode run. ONE copy: append ≡ one-shot bit parity
    rides on this expression staying identical between the two
    call sites (same rule as :func:`_encode_literal`)."""
    cents = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in coarse
    ])
    return src.withColumn(
        "__rvec",
        F.zip_with(
            F.col(vec_col),
            F.element_at(cents, F.col("__list") + 1),
            lambda a, b: a - b,
        ),
    )


def ivf_pq_topk(
    coded: SparkDF,
    coarse_centroids: List[List[float]],
    codebooks: List[List[List[float]]],
    query_vec: Sequence[float],
    n_probe: int = 2,
    topk: int = 10,
    round_dp: int = 6,
    by_residual: bool = False,
    method: str = "auto",
) -> SparkDF:
    """Approximate top-``k`` from an IVF×PQ index: ADC-score only the
    ``n_probe`` lists whose coarse centroids are nearest the query.

    List selection is driver-side arithmetic over ``n_lists`` centroids
    (same ``qq + c·c − 2·q·c`` squared-L2 form as everything else, ties
    by list id — bit-reproducible, the oracle replays it); the scan is
    a pushdown-able ``__list IN (...)`` filter over the coded table —
    with a ``__list``-partitioned table it prunes whole partitions, so
    query cost is ``n_probe/n_lists`` of the corpus at ``m`` lookups
    per row, and top-k plans as TakeOrderedAndProject.
    ``n_probe == n_lists`` degenerates to the full PQ scan.

    ``by_residual=True`` scores codes built by
    :func:`ivf_pq_build(by_residual=True)`: the LUT is built per probed
    list from the QUERY residual ``q − coarse_centroid[list]`` (FAISS's
    IVFADC), so each row's ``m`` lookups index a (probe-position,
    code) table — still a row-local expression, ``n_probe × m × k``
    driver-side distances to prepare. Must match the build flag.

    ``method`` picks the LUT fold engine (see :func:`pq_adc_scores`):
    the residual path's literal count is ``n_probe × m × k``, so
    FAISS-standard geometry (k=256, n_probe=8) trips the ``"auto"``
    switch to the Arrow fold — measured 15.2 s → 0.39 s per query
    (SCALING.md §PQ geometry), scores bit-identical.
    """
    _check_residual_flag(coded, by_residual)
    q = [float(v) for v in query_vec]
    dim = len(codebooks) * len(codebooks[0][0])
    if len(q) != dim:
        # Checked BEFORE list selection: the probe-ordering dots zip()
        # against the coarse centroids and would silently truncate.
        raise ValueError(f"query dim {len(q)} != m*sub_d = {dim}")
    bad_dim = next(
        (len(c) for c in coarse_centroids if len(c) != dim), None
    )
    if bad_dim is not None:
        # Same silent-truncation hazard from the other side: a coarse
        # centroid wider than the query zip()s short in _py_dot (and in
        # the residual subtraction), probing the wrong lists. EVERY row
        # is checked — a ragged table truncates on whichever row is
        # short, not just row 0.
        raise ValueError(
            f"coarse centroid dim {bad_dim} != codebook geometry "
            f"m*sub_d = {dim}"
        )
    qq = _py_dot(q, q)
    by_dist = sorted(
        (qq + _py_dot(c, c) - 2 * _py_dot(q, c), j)
        for j, c in enumerate(coarse_centroids)
    )
    probe = [j for _, j in by_dist[:n_probe]]
    if not by_residual:
        return (
            pq_adc_scores(
                coded.where(F.col("__list").isin(probe)),
                codebooks, q, round_dp, method=method,
            )
            .select("id", "adc_dist")
            .orderBy(F.col("adc_dist").asc(), F.col("id").asc())
            .limit(topk)
        )
    m = len(codebooks)
    k = len(codebooks[0])
    # Per probed list: query residual, then the shared per-subspace LUT
    # (one copy of the parity-critical fold, _subspace_luts).
    luts: List[List[List[float]]] = [
        _subspace_luts(
            [qv - cv for qv, cv in zip(q, coarse_centroids[lst])],
            codebooks,
        )
        for lst in probe
    ]
    filtered = coded.where(F.col("__list").isin(probe))
    if _resolve_adc_method(method, len(probe) * m * k) == "arrow":
        return (
            _adc_arrow(filtered, luts, probe=probe)
            .select(
                "id",
                F.round(F.col("__adc_sum"), round_dp).alias("adc_dist"),
            )
            .orderBy(F.col("adc_dist").asc(), F.col("id").asc())
            .limit(topk)
        )
    pos = F.array_position(
        F.array(*[F.lit(int(lst)) for lst in probe]), F.col("__list")
    )
    score = None
    for i in range(m):
        table_i = F.array(*[
            F.array(*[F.lit(v) for v in luts[p][i]])
            for p in range(len(probe))
        ])
        term = F.element_at(
            F.element_at(table_i, pos.cast("int")),
            F.element_at(F.col("codes"), i + 1) + 1,
        )
        score = term if score is None else score + term
    return (
        filtered
        .select(
            "id",
            F.round(_guard_literal_score(score), round_dp).alias(
                "adc_dist"
            ),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("id").asc())
        .limit(topk)
    )


#: Largest candidate shortlist pushed into the raw-vector fetch as an
#: ``In`` literal filter. The list is what reaches the parquet reader
#: (row-group stats pruning on an id-sorted/partitioned table); past it
#: the plan-literal cost outweighs pruning and the fetch falls back to a
#: broadcast hash join on the same driver-held shortlist — the BM25
#: vocabulary predicate's threshold pattern (text.py::_filter_postings_terms).
_REFINE_ISIN_MAX = 1024


def ivf_pq_topk_refined(
    coded: SparkDF,
    coarse_centroids: List[List[float]],
    codebooks: List[List[List[float]]],
    query_vec: Sequence[float],
    source: SparkDF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    topk: int = 10,
    refine_factor: int = 4,
    round_dp: int = 6,
    by_residual: bool = False,
    method: str = "auto",
) -> SparkDF:
    """Two-stage ANN serving: compressed shortlist + exact re-rank —
    FAISS's ``IndexRefineFlat`` pattern, the standard recall repair for
    PQ's lossy distances.

    Stage 1 (compressed): :func:`ivf_pq_topk` retrieves
    ``refine_factor × topk`` candidates by approximate ADC distance —
    probe pruning + ``m`` lookups per row, never touching a float
    vector.  Stage 2 (exact): the shortlist (≤ ``refine_factor·topk``
    rows — driver-sized by construction, this is the collect bound) is
    fetched from the RAW vector table and re-ranked by exact squared L2
    ``qq + v·v − 2·q·v`` (the same fold form and IEEE order every other
    engine path uses, JVM-side via ``zip_with``/``aggregate``), and the
    final ``topk`` is exact over the shortlist.

    The raw fetch pushes the candidate ids into the ``source`` scan as
    an ``In`` literal up to :data:`_REFINE_ISIN_MAX` ids — on an
    id-sorted or id-partitioned vector table that is row-group /
    partition pruning, so the fetch reads ~``refine_factor·topk`` rows
    of a 100 TB table, not the table.  A wider shortlist falls back to
    a broadcast hash join on the same driver-held rows (bounded plan).

    Returns ``(id, adc_dist, exact_dist)`` ordered by ``exact_dist``
    asc, ties by id — ``adc_dist`` is carried so recall diagnostics can
    see how far the compressed ordering was from the exact one.
    """
    if refine_factor < 1:
        raise ValueError(f"refine_factor must be >= 1, got {refine_factor}")
    stage1 = ivf_pq_topk(
        coded, coarse_centroids, codebooks, query_vec,
        n_probe=n_probe, topk=refine_factor * topk, round_dp=round_dp,
        by_residual=by_residual, method=method,
    )
    cand_rows = stage1.collect()
    spark = coded.sparkSession
    # Rebuild the shortlist from the collected rows under stage 1's OWN
    # schema — the id dtype follows the coded table (int/bigint/string),
    # same generality contract as the rest of the family.
    cand = local_rows_df(spark, cand_rows, stage1.schema)
    ids = [r["id"] for r in cand_rows]
    fetched = (
        source.where(F.col(id_col).isin(ids))
        if len(ids) <= _REFINE_ISIN_MAX
        else source.join(
            F.broadcast(cand.select(F.col("id").alias(id_col))),
            id_col, "left_semi",
        )
    )
    q = [float(v) for v in query_vec]
    q_arr = F.array(*[F.lit(v) for v in q])
    qq = _py_dot(q, q)
    vec = F.col(vec_col)
    exact = (
        F.lit(qq) + array_dot(vec, vec) - F.lit(2.0) * array_dot(q_arr, vec)
    )
    return (
        fetched.select(
            F.col(id_col).alias("id"),
            F.round(exact, round_dp).alias("exact_dist"),
        )
        .join(F.broadcast(cand), "id")
        .select("id", "adc_dist", "exact_dist")
        .orderBy(F.col("exact_dist").asc(), F.col("id").asc())
        .limit(topk)
    )


class IvfPqIndex(NamedTuple):
    """Durable IVF×PQ index artifact: everything a serving session needs
    to answer queries WITHOUT retraining — the coarse centroids, the
    per-subspace codebooks, and the geometry flags the build↔query guard
    validates against. ``fingerprint`` is a content hash over all of it,
    recomputed on :func:`load_ivf_pq_index` so a corrupted or
    hand-edited store fails loudly instead of probing wrong lists.

    Like the coded table's ``codes``-column metadata tag, this carries
    ``by_residual`` IN the artifact — :func:`ivf_pq_query` always
    scores with the stored geometry. ``coarse_centroids == []`` is a
    valid plain-PQ index (codebooks only; query it with
    :func:`pq_adc_topk`)."""

    coarse_centroids: List[List[float]]
    codebooks: List[List[List[float]]]
    by_residual: bool
    round_dp: int
    fingerprint: str
    #: Optional OPQ rotation (:func:`opq_train`) — when set, the coarse
    #: centroids, codebooks and coded table live in the ROTATED space
    #: ``y = R·x``, and every index-driven entry point
    #: (:func:`ivf_pq_query`, :func:`ivf_pq_batch_topk`,
    #: :func:`ivf_pq_encode` — and therefore append / streaming / CDC)
    #: applies ``R`` to raw inputs itself, so a serving session needs
    #: no side-channel for the rotation. ``None`` = raw axes; absent
    #: from the fingerprint then, so pre-rotation stores keep
    #: validating (the ``bits``/``by_residual`` compatibility rule).
    rotation: "List[List[float]] | None" = None

    @property
    def n_lists(self) -> int:
        return len(self.coarse_centroids)

    @property
    def m(self) -> int:
        return len(self.codebooks)

    @property
    def k(self) -> int:
        return len(self.codebooks[0])

    @property
    def sub_d(self) -> int:
        return len(self.codebooks[0][0])

    @property
    def dim(self) -> int:
        return self.m * self.sub_d

    @property
    def codec(self) -> CodedTableCodec:
        """The family's coded-table codec, :data:`PQ_CODEC`."""
        return PQ_CODEC


def _index_fingerprint(
    coarse: List[List[float]],
    codebooks: List[List[List[float]]],
    by_residual: bool,
    round_dp: int,
    rotation: "List[List[float]] | None" = None,
) -> str:
    """Deterministic content hash (sha256 hex, 16 chars) over the full
    index payload. ``repr`` of a Python float is exact (shortest
    round-trip form), so bit-identical codebooks hash identically and
    any single-ulp corruption changes the digest. The rotation joins
    the payload ONLY when present — rotation-free stores keep their
    pre-OPQ fingerprints."""
    import hashlib

    base = (
        [[float(x) for x in c] for c in coarse],
        [[[float(x) for x in c] for c in cb] for cb in codebooks],
        bool(by_residual),
        int(round_dp),
    )
    if rotation is not None:
        base = base + ([[float(x) for x in r] for r in rotation],)
    payload = repr(base)
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]


def make_ivf_pq_index(
    coarse_centroids: List[List[float]],
    codebooks: List[List[List[float]]],
    by_residual: bool = False,
    round_dp: int = 6,
    rotation: "Sequence[Sequence[float]] | None" = None,
) -> IvfPqIndex:
    """Wrap :func:`ivf_pq_build` (or :func:`pq_build`) outputs as a
    fingerprinted :class:`IvfPqIndex`. Validates internal geometry —
    ragged codebooks or coarse centroids whose width disagrees with
    ``m × sub_d`` are rejected at construction, not at query time."""
    if not codebooks or not codebooks[0] or not codebooks[0][0]:
        raise ValueError("codebooks must be a non-empty m×k×sub_d list")
    m = len(codebooks)
    k = len(codebooks[0])
    sub_d = len(codebooks[0][0])
    for i, cb in enumerate(codebooks):
        if len(cb) != k or any(len(c) != sub_d for c in cb):
            raise ValueError(
                f"codebook {i} is ragged — expected {k} centroids of "
                f"dim {sub_d}"
            )
    coarse = [[float(x) for x in c] for c in coarse_centroids]
    if coarse and any(len(c) != m * sub_d for c in coarse):
        raise ValueError(
            f"coarse centroid dim != codebook geometry m*sub_d = "
            f"{m * sub_d}"
        )
    cbs = [[[float(x) for x in c] for c in cb] for cb in codebooks]
    rot = None
    if rotation is not None:
        import numpy as np

        R = np.asarray(rotation, dtype=np.float64)
        dim = m * sub_d
        if R.shape != (dim, dim):
            raise ValueError(
                f"rotation shape {R.shape} != index dim ({dim}, {dim})"
            )
        if not np.allclose(R @ R.T, np.eye(dim), atol=1e-6):
            raise ValueError(
                "rotation is not orthogonal (R·Rᵀ ≠ I within 1e-6) — "
                "a non-orthogonal matrix would distort L2 geometry and "
                "serve garbage distances; train it with opq_train"
            )
        rot = [[float(x) for x in row] for row in R]
    return IvfPqIndex(
        coarse_centroids=coarse,
        codebooks=cbs,
        by_residual=bool(by_residual),
        round_dp=int(round_dp),
        fingerprint=_index_fingerprint(
            coarse, cbs, by_residual, round_dp, rot
        ),
        rotation=rot,
    )


_INDEX_META_SCHEMA = (
    "format_version int, by_residual boolean, round_dp int, "
    "n_lists int, m int, k int, sub_d int, fingerprint string, "
    "coded_generation string"
)
_INDEX_VECTORS_SCHEMA = (
    "component string, subspace int, idx int, vec array<double>"
)


def save_ivf_pq_index(
    spark, index: IvfPqIndex, path: str,
    coded_generation: "str | None" = None,
) -> None:
    """Persist an :class:`IvfPqIndex` as two small parquet tables under
    ``path`` (``sources/store.py::write_index_artifact``, meta written
    last) — ``vectors/`` (one row per coarse centroid / codebook entry)
    and ``meta/`` (one row: geometry flags + fingerprint).

    A serving session calls :func:`load_ivf_pq_index` instead of
    re-running ``m`` Lloyd fits, and the build↔query geometry guard
    validates against the STORED flags rather than a Python attribute
    that any transformation drops.

    ``coded_generation`` is :func:`save_ivf_pq_table`'s commit record —
    the name of the coded directory THIS index write pairs with
    (fingerprint + per-save nonce). NULL for standalone index stores.
    """
    rows = [
        ("coarse", -1, j, c) for j, c in enumerate(index.coarse_centroids)
    ] + [
        ("codebook", i, j, c)
        for i, cb in enumerate(index.codebooks)
        for j, c in enumerate(cb)
    ] + (
        # OPQ rotation rides the same vectors table (one row per output
        # dimension) — no meta schema change, so pre-rotation stores
        # and loaders stay mutually compatible.
        [("rotation", -1, j, r) for j, r in enumerate(index.rotation)]
        if index.rotation is not None else []
    )
    write_index_artifact(
        spark, path, rows, _INDEX_VECTORS_SCHEMA,
        (
            INDEX_FORMAT_VERSION, index.by_residual, index.round_dp,
            index.n_lists, index.m, index.k, index.sub_d,
            index.fingerprint, coded_generation,
        ),
        _INDEX_META_SCHEMA,
    )


def load_ivf_pq_index(spark, path: str) -> IvfPqIndex:
    """Load an index written by :func:`save_ivf_pq_index`, verifying the
    stored fingerprint against a recomputation over the loaded payload —
    round-tripped doubles are bit-exact in parquet, so any mismatch
    means corruption or a hand-edited store, and querying with it would
    return plausible-looking garbage. The driver read is bounded by
    the index geometry (``n_lists + m·k`` rows), never by corpus size."""
    return _load_index_with_meta(spark, path)[0]


def _load_index_with_meta(spark, path: str):
    """:func:`load_ivf_pq_index` plus the raw meta row, whose
    ``coded_generation`` the table lifecycle needs — one driver read
    (``sources/store.py::read_index_artifact``), no Spark job."""
    meta, rows = read_index_artifact(
        path, _INDEX_META_SCHEMA, _INDEX_VECTORS_SCHEMA, "IVF×PQ"
    )
    coarse_rows = sorted(
        (r["idx"], list(r["vec"])) for r in rows if r["component"] == "coarse"
    )
    cb_rows = {}
    for r in rows:
        if r["component"] == "codebook":
            cb_rows.setdefault(r["subspace"], []).append(
                (r["idx"], list(r["vec"]))
            )
    coarse = [v for _, v in coarse_rows]
    codebooks = [
        [v for _, v in sorted(cb_rows[i])] for i in sorted(cb_rows)
    ]
    rot_rows = sorted(
        (r["idx"], list(r["vec"]))
        for r in rows if r["component"] == "rotation"
    )
    rotation = [v for _, v in rot_rows] or None
    if (
        len(coarse) != meta["n_lists"]
        or len(codebooks) != meta["m"]
        or any(len(cb) != meta["k"] for cb in codebooks)
        or any(len(c) != meta["sub_d"] for cb in codebooks for c in cb)
        or sorted(cb_rows) != list(range(meta["m"]))
        or [j for j, _ in coarse_rows] != list(range(meta["n_lists"]))
        or (
            rotation is not None
            and (
                [j for j, _ in rot_rows]
                != list(range(meta["m"] * meta["sub_d"]))
                or any(
                    len(r) != meta["m"] * meta["sub_d"] for r in rotation
                )
            )
        )
    ):
        raise ValueError(
            f"index at {path!r} does not match its meta geometry "
            f"(n_lists={meta['n_lists']}, m={meta['m']}, k={meta['k']}, "
            f"sub_d={meta['sub_d']}) — the store is corrupt"
        )
    index = IvfPqIndex(
        coarse_centroids=coarse,
        codebooks=codebooks,
        by_residual=bool(meta["by_residual"]),
        round_dp=int(meta["round_dp"]),
        fingerprint=meta["fingerprint"],
        rotation=rotation,
    )
    expected = _index_fingerprint(
        coarse, codebooks, index.by_residual, index.round_dp, rotation
    )
    if expected != meta["fingerprint"]:
        raise ValueError(
            f"index at {path!r} fails its fingerprint check "
            f"(stored {meta['fingerprint']}, recomputed {expected}) — "
            "the payload was corrupted or edited after save"
        )
    return index, meta


def _assign_lists(df: SparkDF, index, vec_col: str, method: str):
    """The coarse half of a stored-index encode, shared by
    :func:`ivf_pq_encode` and ``similarity.ivf_sq_encode`` →
    ``(frame, column to encode)``: raw vectors rotate into an OPQ
    index's space (the same :func:`rotate_vectors` the build-time
    corpus went through, so append ≡ one-shot parity carries over to
    rotated stores), ``__list`` is the build's final Lloyd argmin over
    the stored coarse centroids (``method`` resolved by ``n_lists``),
    and a residual index encodes ``__rvec``
    (:func:`_residual_transform`)."""
    if index.rotation is not None:
        df = rotate_vectors(df, vec_col, index.rotation)
    vecs = df.withColumn(
        "__vv", array_dot(F.col(vec_col), F.col(vec_col))
    )
    src = _assign(
        vecs, vec_col, index.coarse_centroids,
        _resolve_method(method, index.n_lists),
    ).withColumn("__list", F.col("__cluster"))
    if not index.by_residual:
        return src, vec_col
    return (
        _residual_transform(src, vec_col, index.coarse_centroids), "__rvec"
    )


def ivf_pq_encode(
    df: SparkDF,
    index: IvfPqIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> SparkDF:
    """Encode vectors with a STORED index — NO training. Returns the
    same ``(id, codes, __list)`` shape as :func:`ivf_pq_build`, produced
    from the index's coarse centroids and codebooks alone.

    This is the maintenance primitive the serving table was missing:
    corpora grow, and re-training (m Lloyd fits + a coarse fit) for
    every new batch both wastes the fits and INVALIDATES every
    already-encoded vector (new codebooks ⇒ new codes ⇒ full rewrite).
    Encoding against the stored geometry instead is one scan of the NEW
    batch — :func:`ivf_pq_table_append` uses it to grow a persisted
    serving table in place, and ``streaming/ingest.py``'s
    ``ivf_pq_ingest_writer`` to maintain one from a stream.

    Bit parity: the coarse assignment is the same ``__vv + c·c − 2·v·c``
    argmin (``semantic._assign``) as :func:`ivf_pq_build`'s final
    Lloyd assignment, the residual transform the same exact ``zip_with``
    subtraction, and the code argmin the same shared
    :func:`_encode_literal` / :func:`_encode_blas` — so for a FIXED
    index, encoding a batch here is bit-identical to having included it
    in the one-shot build (pinned in tests; per-row arithmetic has no
    cross-row dependence once the centroids are frozen). ``method``
    resolves per stage exactly as the build does: by ``n_lists`` for
    the coarse argmin, by ``k`` for the code argmin.
    """
    if not index.coarse_centroids:
        raise ValueError(
            "index has no coarse centroids (plain-PQ index) — "
            "ivf_pq_encode produces (id, codes, __list); encode plain "
            "PQ codes with pq_build's codebooks instead"
        )
    src, enc_col = _assign_lists(df, index, vec_col, method)
    sub_d = index.sub_d
    m = index.m
    # No checkpoint (unlike pq_build's slice projection): encode-only
    # feeds exactly one pass, so materializing it would only add I/O.
    slices = src.select(
        F.col(id_col).alias("id"),
        *[
            F.slice(F.col(enc_col), i * sub_d + 1, sub_d).alias(f"sub{i}")
            for i in range(m)
        ],
        "__list",
    )
    coded = _ENCODERS[_resolve_method(method, index.k)](
        slices, m, index.codebooks, ("__list",)
    )
    return _tag_residual(coded, index.by_residual)


def save_ivf_pq_table(
    coded: SparkDF,
    index: IvfPqIndex,
    path: str,
) -> None:
    """Persist the WHOLE IVF×PQ serving artifact in one call — the
    coded table (an :func:`ivf_pq_build` / :func:`ivf_pq_encode` output)
    partitioned by ``__list`` and the fingerprinted index;
    :func:`load_ivf_pq_table` restores both, so a serving session
    trains nothing and reads only ``n_lists + m·k`` index rows plus the
    probed partitions. ``sources/store.py::coded_table_save`` bound to
    :data:`PQ_CODEC` (commit protocol in that module's docstring)."""
    coded_table_save(PQ_CODEC, coded, index, path)


def load_ivf_pq_table(spark, path: str) -> Tuple[SparkDF, IvfPqIndex]:
    """Load a :func:`save_ivf_pq_table` store (plus any appends and
    deletes) → ``(coded, index)`` ready for :func:`ivf_pq_query`, with
    no Spark job — ``sources/store.py::coded_table_load`` bound to
    :data:`PQ_CODEC`. Also serves the pre-generation layout (coded
    rows under ``coded_<fingerprint>``, no ``batch_id``)."""
    return coded_table_load(PQ_CODEC, spark, path)


def ivf_pq_table_delete(
    spark,
    store_path: str,
    ids: Sequence,
    batch_id: int,
) -> None:
    """Delete vectors from a :func:`save_ivf_pq_table` store by id: a
    tombstone batch every loader filters on, applied physically by
    :func:`ivf_pq_table_compact` — ``sources/store.py::
    coded_table_delete`` bound to :data:`PQ_CODEC`. A tombstone kills
    every row for its id written at or before ``batch_id``; a LATER
    :func:`ivf_pq_table_append` of the id serves again."""
    coded_table_delete(PQ_CODEC, spark, store_path, ids, batch_id)


def ivf_pq_table_append(
    df: SparkDF,
    store_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: "int | None" = None,
    method: str = "auto",
) -> None:
    """Append one batch of NEW vectors to a :func:`save_ivf_pq_table`
    store, encoded with the STORED index (:func:`ivf_pq_encode`) as a
    ``batch_id`` partition — ``sources/store.py::coded_table_append``
    bound to :data:`PQ_CODEC`. After any number of appends
    :func:`load_ivf_pq_table` serves the union, bit-identical to a
    one-shot build-and-save over the full corpus (pinned in tests)."""
    coded_table_append(
        PQ_CODEC, df, store_path, id_col, vec_col, batch_id, method
    )


def ivf_pq_query(
    coded: SparkDF,
    index: IvfPqIndex,
    query_vec: Sequence[float],
    n_probe: int = 2,
    topk: int = 10,
    method: str = "auto",
) -> SparkDF:
    """:func:`ivf_pq_topk` driven by a (loaded) :class:`IvfPqIndex` —
    the serving entry point: geometry, residual flag, and rounding all
    come from the STORED artifact, so a session that never ran the
    build cannot pass mismatched flags. ``coded`` is the persisted
    coded table (id, codes, __list — written ``partitionBy("__list")``
    so the probe prunes partitions)."""
    if not index.coarse_centroids:
        raise ValueError(
            "index has no coarse centroids (plain-PQ index) — query it "
            "with pq_adc_topk(coded, index.codebooks, ...)"
        )
    if index.rotation is not None:
        # OPQ store: the coded table lives in the rotated space — the
        # raw query rotates here, so callers never handle R themselves.
        query_vec = rotate_query(query_vec, index.rotation)
    return ivf_pq_topk(
        coded,
        index.coarse_centroids,
        index.codebooks,
        query_vec,
        n_probe=n_probe,
        topk=topk,
        round_dp=index.round_dp,
        by_residual=index.by_residual,
        method=method,
    )


def _check_query_ids(qids, query_id_col: str) -> None:
    """Shared batch-entry validation: a NULL query id would silently
    vanish from any downstream ``isin``/equi-join (SQL NULL never
    matches), and duplicates make per-query top-k ambiguous — both
    raise up front, in the plain and chunked entry points alike."""
    if not qids:
        raise ValueError("queries table is empty — nothing to retrieve")
    if any(q is None for q in qids):
        raise ValueError(
            f"queries table has a NULL {query_id_col!r} — NULL ids "
            "never match joins or filters and would silently drop the "
            "query from the results"
        )
    if len(set(qids)) != len(qids):
        raise ValueError(f"duplicate {query_id_col!r} values in queries")


def _per_query_lut_bytes(index: IvfPqIndex, n_probe: int) -> int:
    """LUT payload per query at this index's geometry — ONE copy of
    the cap arithmetic, shared by :func:`ivf_pq_batch_topk`'s closure
    cap and :func:`ivf_pq_batch_topk_chunked`'s default chunk size (so
    the chunked default can never trip the cap it sizes against)."""
    probes = (
        min(int(n_probe), index.n_lists) if index.by_residual else 1
    )
    return probes * index.m * index.k * 8


def _batch_driver_stage(Q, coarse, codebooks, n_probe, by_residual):
    """The batch-ANN driver stage: vectorized probe selection + LUT
    construction → ``(probe_mat, lut_all)``. ONE copy, called by
    :func:`ivf_pq_batch_topk` AND by the parity witness
    ``tools/batch_ann_driver_probe.py`` — the probe asserts that THIS
    function's probe choices and LUT doubles are bit-identical to the
    interpreted ``_py_dot``/``_subspace_luts`` arithmetic, so the
    assertion covers production, not a re-implementation.

    ``Q`` is the ``(n_q, dim)`` float64 query matrix; the folds are
    dimension-major (:func:`_fold_dots`/:func:`_fold_sq` — same
    sequential IEEE rounding order as ``_py_dot``), the stable argsort
    reproduces ``sorted((dist, j))``'s low-id tie-break, and the
    residual subtraction is the same one-op elementwise form as the
    per-list Python loop."""
    import numpy as np

    CC = np.asarray(coarse, dtype=np.float64)
    probe_mat = _probe_mat(Q, coarse, n_probe)
    cb_arrs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    cc_subs = [_fold_sq(cb) for cb in cb_arrs]
    m = len(cb_arrs)
    k, sub_d = cb_arrs[0].shape
    n_q = Q.shape[0]
    np_eff = probe_mat.shape[1]
    if by_residual:
        R = Q[:, None, :] - CC[probe_mat]
        lut_all = np.empty((n_q, np_eff, m, k), dtype=np.float64)
        for i in range(m):
            Rs = R[..., i * sub_d:(i + 1) * sub_d]
            lut_all[:, :, i, :] = (
                _fold_sq(Rs)[..., None] + cc_subs[i]
            ) - 2.0 * _fold_dots(Rs, cb_arrs[i])
    else:
        lut_all = np.empty((n_q, m, k), dtype=np.float64)
        for i in range(m):
            Qs = Q[:, i * sub_d:(i + 1) * sub_d]
            lut_all[:, i, :] = (
                _fold_sq(Qs)[:, None] + cc_subs[i]
            ) - 2.0 * _fold_dots(Qs, cb_arrs[i])
    return probe_mat, lut_all


def ivf_pq_batch_topk(
    coded: SparkDF,
    index: IvfPqIndex,
    queries: SparkDF,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    topk: int = 10,
) -> SparkDF:
    """Approximate top-``k`` for EVERY query in a query TABLE →
    ``(query_id, id, adc_dist)`` — the batch retrieval shape for the
    IVF×PQ family (the ANN twin of ``text.bm25_batch_topk``): score a
    whole probe workload in one job instead of one :func:`ivf_pq_query`
    driver round-trip per query.

    The query table is DRIVER-sized by contract (a probe workload —
    thousands of rows, not a corpus) and is collected once. Probe
    selection and LUT construction are VECTORIZED driver arithmetic:
    one dimension-major numpy fold per stage (``_fold_dots`` /
    ``_fold_sq``), which accumulates each dot product in the SAME
    sequential IEEE order as the single-query path's ``_py_dot`` —
    bit-identical probe choices and LUT values (pinned in tests),
    minutes-to-subsecond at 10k+ queries vs the interpreted per-pair
    loop it replaced (measured in SCALING.md §batch ANN). Total LUT
    memory is capped (``_BATCH_LUT_MAX_BYTES``): past it the call
    raises a sized error telling the caller to chunk the query table —
    chunks compose exactly because per-query results are independent.
    The scan (:func:`_probed_scores`, shared with IVF×SQ) reads the
    union of the probed lists and scores each row against exactly the
    queries probing its list, in the literal fold's IEEE add order.

    Top-k is exact and scalable: scores round Spark-side (the same
    ``F.round``), then a TWO-PHASE per-query window — phase 1 ranks
    within (query, deterministic id-hash salt) buckets and keeps
    ``topk`` per bucket, phase 2 ranks the ≤ ``64·topk`` survivors per
    query — so no single reducer ever sees a query's full probed-row
    stream, and the final (rounded dist, id) ordering is identical to
    the single-query ``orderBy().limit()``. Per query, results are
    bit-identical to :func:`ivf_pq_query` (pinned in tests).
    """
    rows = queries.select(query_id_col, vec_col).collect()
    _check_query_ids([r[0] for r in rows], query_id_col)
    scored = _ivf_pq_batch_scored(
        coded, index, rows, queries.schema[query_id_col].dataType,
        vec_col=vec_col, n_probe=n_probe,
    )
    return _two_phase_batch_topk(scored, topk, query_id_col)


def _ivf_pq_batch_scored(coded, index, rows, qid_type, vec_col="embedding",
                         n_probe=2):
    """:func:`ivf_pq_batch_topk` before its top-``k``: every probed
    ``(qid, id, adc_dist)`` of the driver-collected query ``rows``
    (``qid`` first, ``vec_col`` by name; ``qid_type`` the id's Spark
    type) — the IVF×PQ codec's ``batch_scored``."""
    _check_residual_flag(coded, index.by_residual)
    coarse = index.coarse_centroids
    if not coarse:
        raise ValueError(
            "index has no coarse centroids (plain-PQ index) — batch "
            "retrieval needs probe selection over __list"
        )
    n_q = len(rows)
    by_residual = index.by_residual
    lut_bytes = n_q * _per_query_lut_bytes(index, n_probe)
    if lut_bytes > _BATCH_LUT_MAX_BYTES:
        raise ValueError(
            f"batch LUTs for {n_q} queries at this geometry "
            f"(m={index.m}, k={index.k}"
            + (
                f", n_probe={min(int(n_probe), len(coarse))} residual"
                if by_residual else ""
            )
            + f") need {lut_bytes >> 20} MiB — over the "
            f"{_BATCH_LUT_MAX_BYTES >> 20} MiB closure cap. Use "
            "ivf_pq_batch_topk_chunked (or chunk and union yourself): "
            "per-query results are independent, so chunks compose "
            "exactly."
        )
    probe_mat, lut_all = _batch_driver_stage(
        _query_matrix(rows, vec_col, index), coarse, index.codebooks,
        n_probe, by_residual,
    )
    return _probed_scores(
        coded, rows, qid_type, probe_mat, index.round_dp, lambda C: C,
        lambda C, qi, mask, pos: _np_adc_fold(
            lut_all[qi], C[mask], pos if by_residual else None
        ),
    )


def _query_matrix(rows, vec_col: str, index):
    """The batch scorers' ``(n_q, dim)`` float64 query matrix, rotated
    when the index carries a rotation. A NULL vector or element, or a
    wrong dim, raises with ITS query id (contract parity with the BM25
    batch validation) — the O(n_q · dim) loop stays interpreted for
    that attribution; the quadratic probe and LUT arithmetic is
    vectorized (:func:`_batch_driver_stage`)."""
    import numpy as np

    for r in rows:
        x = r[vec_col]
        if x is None or any(v is None for v in x):
            raise ValueError(
                f"query {r[0]!r} has a NULL {vec_col!r} vector or a "
                "NULL element — every query needs a complete vector"
            )
        if len(x) != index.dim:
            raise ValueError(
                f"query {r[0]!r} dim {len(x)} != index dim {index.dim}"
            )
    Q = np.asarray(
        [[float(v) for v in r[vec_col]] for r in rows], dtype=np.float64
    )
    if index.rotation is not None:
        # Rotate per query with the SAME gemv rotate_query performs —
        # a gemm over the whole matrix could round differently per
        # BLAS kernel, and batch ≡ singles is pinned bit-exact.
        R = np.asarray(index.rotation, dtype=np.float64)
        Q = np.stack([R @ Q[i] for i in range(Q.shape[0])])
    return Q


def _probe_mat(Q, coarse, n_probe):
    """Each query's ``n_probe`` nearest coarse lists (``(n_q, n_probe)``):
    the dimension-major folds reproduce ``_py_dot``'s sequential IEEE
    order, and the stable argsort ``sorted((dist, j))``'s low-id
    tie-break — bit-identical probe choices to the single-query path."""
    import numpy as np

    CC = np.asarray(coarse, dtype=np.float64)
    dist = (
        _fold_sq(Q)[:, None] + _fold_sq(CC)[None, :]
    ) - 2.0 * _fold_dots(Q, CC)
    return np.argsort(dist, axis=1, kind="stable")[:, :n_probe]


def _probed_scores(coded, rows, qid_type, probe_mat, round_dp, prepare,
                   score):
    """The batch ANN scan both codecs share → ``(qid, id, adc_dist)``
    for every (query, row of a list it probes). The scan reads the
    UNION of the probed lists (a pushdown-able ``__list IN (...)``);
    one Arrow pass turns each batch's codes into ``prepare(C)`` once
    and scores, per query, the rows whose list it probes:
    ``score(prepared, qi, mask, pos)`` with ``pos`` each row's probe
    position. Membership ships as per-query SORTED probe lists plus
    their positions (a searchsorted per batch and query), never an
    ``n_q × n_lists`` matrix. The distance rounds Spark-side."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    qids = [r[0] for r in rows]
    np_eff = probe_mat.shape[1]
    union_lists = sorted(int(v) for v in np.unique(probe_mat))
    filtered = coded.where(F.col("__list").isin(union_lists))
    probe_argsort = np.argsort(probe_mat, axis=1, kind="stable").astype(
        np.int64
    )
    probe_sorted = np.take_along_axis(probe_mat, probe_argsort, axis=1)
    schema = StructType([
        StructField("qid", qid_type),
        StructField("id", coded.schema["id"].dataType),
        StructField("__adc_sum", DoubleType()),
    ])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            prepared = prepare(_codes_matrix(pdf["codes"], pdf["id"]))
            lists = pdf["__list"].to_numpy(dtype=np.int64)
            ids = pdf["id"].to_numpy()
            out_qid, out_id, out_s = [], [], []
            for qi, qid in enumerate(qids):
                sl = probe_sorted[qi]
                si = np.minimum(np.searchsorted(sl, lists), np_eff - 1)
                mask = sl[si] == lists
                if not mask.any():
                    continue
                pos = probe_argsort[qi][si[mask]]
                out_qid.append(np.full(int(mask.sum()), qid))
                out_id.append(ids[mask])
                out_s.append(score(prepared, qi, mask, pos))
            if not out_qid:
                continue
            yield pd.DataFrame({
                "qid": np.concatenate(out_qid),
                "id": np.concatenate(out_id),
                "__adc_sum": np.concatenate(out_s),
            })

    return filtered.mapInPandas(gen, schema).select(
        "qid", "id", F.round(F.col("__adc_sum"), round_dp).alias("adc_dist")
    )


def _two_phase_batch_topk(scored, topk: int, query_id_col: str):
    """The batch scorers' exact scalable per-query top-k over
    ``(qid, id, adc_dist)``: phase 1 ranks within (query, deterministic
    id-hash salt) buckets and keeps ``topk`` per bucket, phase 2 ranks
    the ≤ ``64·topk`` survivors per query — no single reducer ever
    sees a query's full probed-row stream, and the final (rounded
    dist, id) ordering is identical to the single-query
    ``orderBy().limit()``. Shared by the standalone scorers
    :func:`ivf_pq_batch_topk` and ``similarity.ivf_sq_batch_topk`` —
    one copy of the exactness-critical reduction. The hybrid search
    ranks its ANN candidates in its own fusion tail instead
    (``retrieval.hybrid_batch_topk``)."""
    from pyspark.sql import Window

    salt = F.pmod(F.xxhash64("id"), F.lit(64))
    w1 = Window.partitionBy("qid", salt).orderBy(
        F.col("adc_dist").asc(), F.col("id").asc()
    )
    pre = scored.withColumn("__r1", F.row_number().over(w1)).where(
        F.col("__r1") <= topk
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("adc_dist").asc(), F.col("id").asc()
    )
    return (
        pre.withColumn("__r2", F.row_number().over(w2))
        .where(F.col("__r2") <= topk)
        .select(F.col("qid").alias(query_id_col), "id", "adc_dist")
    )


def pq_adc_topk(
    codes: SparkDF,
    codebooks: List[List[List[float]]],
    query_vec: Sequence[float],
    topk: int = 10,
    round_dp: int = 6,
    method: str = "auto",
) -> SparkDF:
    """Asymmetric-distance top-``k``: smallest approximate squared L2.

    ``orderBy().limit()`` plans as TakeOrderedAndProject — per-partition
    heaps, no global sort.
    """
    return (
        pq_adc_scores(codes, codebooks, query_vec, round_dp, method=method)
        .select("id", "adc_dist")
        .orderBy(F.col("adc_dist").asc(), F.col("id").asc())
        .limit(topk)
    )


def ivf_pq_batch_topk_chunked(
    coded: SparkDF,
    index: IvfPqIndex,
    queries: SparkDF,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    topk: int = 10,
    chunk_queries: "int | None" = None,
) -> SparkDF:
    """:func:`ivf_pq_batch_topk` for workloads past the LUT closure
    cap: split the query table into cap-sized chunks, run each as its
    own batch job, union the results — EXACT, not approximate, because
    per-query results are independent (each query's top-k depends only
    on its own probes against the corpus).

    ``chunk_queries`` defaults to the largest count whose LUT payload
    fits ``_BATCH_LUT_MAX_BYTES`` at this index's geometry — the SAME
    helper the cap error uses (:func:`_per_query_lut_bytes`), so the
    default can never trip it. The query table is collected ONCE
    (driver-sized by the batch contract) and each chunk re-ships as a
    local DataFrame — the caller's query plan is never re-executed per
    chunk, and rows cannot drift between the id pass and the chunk
    pass under a non-deterministic upstream plan. Wall-clock is
    chunks × one batch job; prefer the unchunked form whenever the
    workload fits.
    """
    if chunk_queries is None:
        chunk_queries = max(
            1, _BATCH_LUT_MAX_BYTES // _per_query_lut_bytes(index, n_probe)
        )
    if chunk_queries < 1:
        raise ValueError(f"chunk_queries must be >= 1 (got {chunk_queries})")
    spark = queries.sparkSession
    projected = queries.select(query_id_col, vec_col)
    rows = projected.collect()
    _check_query_ids([r[0] for r in rows], query_id_col)
    out = None
    step = int(chunk_queries)
    for i in range(0, len(rows), step):
        part = local_rows_df(spark, rows[i:i + step], projected.schema)
        res = ivf_pq_batch_topk(
            coded, index, part, query_id_col=query_id_col,
            vec_col=vec_col, n_probe=n_probe, topk=topk,
        )
        out = res if out is None else out.unionByName(res)
    return out


def ivf_pq_batch_topk_refined(
    coded: SparkDF,
    index: IvfPqIndex,
    queries: SparkDF,
    source: SparkDF,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    source_vec_col: str = "embedding",
    n_probe: int = 2,
    topk: int = 10,
    refine_factor: int = 4,
    round_dp: int = 6,
) -> SparkDF:
    """Batch twin of :func:`ivf_pq_topk_refined`: every query in the
    table gets its compressed ``refine_factor × topk`` shortlist from
    ONE :func:`ivf_pq_batch_topk` job, then all shortlists are exact-
    re-ranked together — one raw-vector fetch for the UNION of
    candidate ids (an ``In`` pushdown up to :data:`_REFINE_ISIN_MAX`
    ids, broadcast semi-join past it), one join, one per-query window
    over ≤ ``refine_factor·topk``-row partitions. The exact distance is
    computed fully in-plan (``q·q + v·v − 2·q·v``, each dot the same
    sequential ``zip_with``/``aggregate`` fold), so per query the
    result is bit-identical to the single-query refined path given the
    batch ≡ singles candidate parity the batch scorer pins.

    Returns ``(query_id, id, adc_dist, exact_dist)`` ordered by
    ``(query_id, exact_dist, id)``, ``topk`` rows per query.
    """
    from pyspark.sql import Window

    if refine_factor < 1:
        raise ValueError(f"refine_factor must be >= 1, got {refine_factor}")
    cand = ivf_pq_batch_topk(
        coded, index, queries, query_id_col=query_id_col, vec_col=vec_col,
        n_probe=n_probe, topk=refine_factor * topk,
    ).localCheckpoint(eager=True)
    # The shortlist union is bounded by n_queries × refine_factor×topk
    # (the query table is driver-sized by the batch contract), so the
    # distinct-id collect is too.
    ids = [r["id"] for r in cand.select("id").distinct().collect()]
    fetched = (
        source.where(F.col(id_col).isin(ids))
        if len(ids) <= _REFINE_ISIN_MAX
        else source.join(
            F.broadcast(cand.select(F.col("id").alias(id_col)).distinct()),
            id_col, "left_semi",
        )
    )
    fetched = fetched.select(
        F.col(id_col).alias("id"), F.col(source_vec_col).alias("__vec")
    )
    qv = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
    )
    exact = (
        array_dot("__qvec", "__qvec")
        + array_dot("__vec", "__vec")
        - F.lit(2.0) * array_dot("__qvec", F.col("__vec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_dist").asc(), F.col("id").asc()
    )
    return (
        cand.join(F.broadcast(fetched), "id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "id", "adc_dist",
            F.round(exact, round_dp).alias("exact_dist"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= topk)
        .drop("__rn")
        .orderBy("query_id", "exact_dist", "id")
    )


def ivf_pq_table_compact(spark, store_path: str) -> None:
    """Compact an incrementally-grown IVF×PQ serving table to the
    sentinel ``batch_id=-1/__list=<j>/`` layout, applying pending
    deletes — ``sources/store.py::coded_table_compact`` bound to
    :data:`PQ_CODEC`. Compact only while the streaming maintainer is
    stopped."""
    coded_table_compact(PQ_CODEC, spark, store_path)


#: The IVF×PQ codec of the coded serving table (``sources/store.py``).
PQ_CODEC = CodedTableCodec(
    family="pq",
    label="IVF×PQ",
    save_index=save_ivf_pq_index,
    load_index_with_meta=_load_index_with_meta,
    encode=ivf_pq_encode,
    batch_scored=_ivf_pq_batch_scored,
)


def opq_train(
    df: SparkDF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 16,
    n_iter: int = 10,
    opq_iter: int = 8,
    train_on: "SparkDF | float | None" = None,
    max_train: int = 200_000,
) -> List[List[float]]:
    """Learn an OPQ rotation (Ge et al., *Optimized Product
    Quantization*, CVPR 2013 — FAISS's ``OPQx`` pre-transform): an
    orthogonal ``R`` such that PQ in the rotated space ``y = R·x``
    loses less than PQ on the raw axes. PQ's blind-spot is the axis
    split: correlated or unequal-variance dimensions make some
    subspaces carry most of the distortion; the non-parametric OPQ
    alternation fixes it by rotating variance into balance —
    alternately (a) fit the ``m`` subspace codebooks in the current
    rotation and (b) solve the orthogonal Procrustes problem
    ``min_R ‖X·Rᵀ − decode(encode(X·Rᵀ))‖`` in closed form (one SVD).

    Placement (the 100 TB design): training runs on the DRIVER over a
    deterministic sample — codebooks and rotations need ~10⁵ vectors
    (the :func:`semantic.resolve_train` contract; ``max_train`` refuses
    an over-collected slice with a sized error), and the alternation is
    ``opq_iter`` small dense problems, not cluster work. The CORPUS
    never moves here: apply the learned ``R`` with
    :func:`rotate_vectors` (one Arrow map over the scan) and feed the
    rotated column to the UNCHANGED :func:`pq_build` /
    :func:`ivf_pq_build` / serving-table stack — OPQ composes with the
    whole PQ family, including residual encoding and the durable
    stores, because it is just a change of basis ahead of them. Rotate
    queries with the same ``R`` (driver-side, ``rotate_query``).
    Orthogonality means exact L2 geometry is untouched — recall gains
    are pure codec-error reductions (measured in SCALING.md §OPQ).

    Internals are deterministic (id-ordered seeding, fixed iteration
    counts, empty clusters keep their centroid) but NOT SQL-replayable
    — the Procrustes step is an SVD, which is the one declared
    non-oracle boundary in the PQ family; invariants (orthogonality,
    monotone objective, recall) are pinned in pytest instead.
    """
    import numpy as np

    sub_d = _check_geometry(dim, m)
    if opq_iter < 1 or n_iter < 1:
        raise ValueError(
            f"opq_iter and n_iter must be >= 1 (got {opq_iter}, {n_iter})"
        )
    sample = resolve_train(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        train_on, "id",
    )
    rows = sample.orderBy("id").limit(int(max_train) + 1).collect()
    if len(rows) > max_train:
        raise ValueError(
            f"OPQ training slice exceeds max_train={max_train} rows — "
            "rotations need ~1e5 vectors, not the corpus; pass a "
            "smaller train_on fraction or a pre-sampled DataFrame"
        )
    if len(rows) < k:
        raise ValueError(
            f"OPQ training slice has {len(rows)} rows < k={k} — "
            "cannot seed the subspace codebooks"
        )
    bad = [r["id"] for r in rows if r["v"] is None or len(r["v"]) != dim
           or any(x is None for x in r["v"])]
    if bad:
        raise ValueError(
            f"{len(bad)} training vector(s) are NULL, hold NULL "
            f"elements, or are not {dim}-dim (first id: {bad[0]!r})"
        )
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)

    def _lloyd(Y: "np.ndarray") -> "np.ndarray":
        # Deterministic driver-side Lloyd: id-ordered seeds, argmin
        # assignment (first-min ties, numpy's rule — the same the BLAS
        # encode path uses), empty clusters keep their centroid.
        C = Y[:k].copy()
        for _ in range(n_iter):
            d2 = (
                np.einsum("ij,ij->i", Y, Y)[:, None]
                + np.einsum("ij,ij->i", C, C)[None, :]
                - 2.0 * (Y @ C.T)
            )
            a = d2.argmin(axis=1)
            for j in range(k):
                mask = a == j
                if mask.any():
                    C[j] = Y[mask].mean(axis=0)
        return C

    def _encode_decode(Y: "np.ndarray", books) -> "np.ndarray":
        out = np.empty_like(Y)
        for i in range(m):
            S = Y[:, i * sub_d:(i + 1) * sub_d]
            C = books[i]
            d2 = (
                np.einsum("ij,ij->i", S, S)[:, None]
                + np.einsum("ij,ij->i", C, C)[None, :]
                - 2.0 * (S @ C.T)
            )
            out[:, i * sub_d:(i + 1) * sub_d] = C[d2.argmin(axis=1)]
        return out

    R = np.eye(dim)
    for _ in range(int(opq_iter)):
        Y = X @ R.T
        books = [
            _lloyd(Y[:, i * sub_d:(i + 1) * sub_d]) for i in range(m)
        ]
        Y_hat = _encode_decode(Y, books)
        # Procrustes: min_R ||X R^T - Y_hat||_F over orthogonal R.
        U, _, Vt = np.linalg.svd(X.T @ Y_hat)
        R = (U @ Vt).T
    return [[float(x) for x in row] for row in R]


def rotate_vectors(
    df: SparkDF,
    vec_col: str,
    rotation: "Sequence[Sequence[float]]",
    out_col: "str | None" = None,
) -> SparkDF:
    """Apply a learned rotation to an embedding column — ``y = R·x``
    per row, the corpus-side half of OPQ (and of any fixed linear
    pre-transform: a PCA projection works the same way). One
    Arrow-batched matmul over the scan: row-local, shuffle-free,
    map-only at any corpus size (the ``semantic.py`` BLAS precedent —
    per-batch ``X @ Rᵀ``). NULL vectors, NULL elements and
    wrong-dimension rows raise with the offending count — a silent
    NULL through a matmul would serve garbage distances downstream.

    ``rotation`` is row-major (``rotation[j]`` is output dimension
    ``j``'s weights). It is validated square; orthogonality is the
    trainer's contract, not re-checked per call. Default overwrites
    ``vec_col``; pass ``out_col`` to keep both."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType, StructField

    R = np.asarray(rotation, dtype=np.float64)
    if R.ndim != 2 or R.shape[0] != R.shape[1]:
        raise ValueError(
            f"rotation must be a square matrix (got shape {R.shape})"
        )
    dim = R.shape[0]
    target = out_col or vec_col
    fields = [
        StructField(f.name, f.dataType) for f in df.schema.fields
        if f.name != target
    ]
    fields.append(StructField(target, ArrayType(DoubleType())))
    from pyspark.sql.types import StructType

    schema = StructType(fields)
    names = [f.name for f in fields]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vals = pdf[vec_col].tolist()
            bad = sum(
                1 for v in vals
                if v is None or len(v) != dim
                or any(x is None for x in v)
            )
            if bad:
                raise ValueError(
                    f"{bad} row(s) have a NULL / NULL-element / "
                    f"non-{dim}-dim {vec_col!r} — rotate_vectors "
                    "cannot transform them; fix upstream"
                )
            Y = np.asarray(vals, dtype=np.float64) @ R.T
            data = {
                n: pdf[n] for n in names if n != target
            }
            data[target] = pd.Series(list(Y), index=pdf.index)
            yield pd.DataFrame(data)

    return df.mapInPandas(run, schema)


def rotate_query(
    q: Sequence[float], rotation: "Sequence[Sequence[float]]"
) -> List[float]:
    """Rotate one query vector with the same matrix the corpus was
    rotated with (driver-side — queries are single rows)."""
    import numpy as np

    R = np.asarray(rotation, dtype=np.float64)
    v = np.asarray(list(q), dtype=np.float64)
    if v.shape[0] != R.shape[0]:
        raise ValueError(
            f"query dim {v.shape[0]} != rotation dim {R.shape[0]}"
        )
    return [float(x) for x in R @ v]
