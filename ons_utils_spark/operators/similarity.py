"""Similarity search over embedding columns: brute-force cosine top-k and a
random-hyperplane-LSH bucketed variant.

LLM-data-pipeline extension (SURVEY.md §7 item 7). The embedding column is
``array<float>``; all math happens in double via the JVM-side helpers in
:mod:`ons_utils_spark.functions.arrays`.

Scale story:

- **brute-force top-k**: one pass over all vectors, per-partition heap via
  ``ORDER BY … LIMIT k`` (Spark plans TakeOrderedAndProject — no global
  sort, no full shuffle). The right baseline, and exact.
- **SRP-LSH**: sign-pattern of ``n_planes`` random hyperplane projections
  buckets similar vectors together; search only the query's bucket(s).
  Sub-linear candidate generation for repeated queries at 10⁹+ vectors;
  recall is tunable with ``n_planes`` (fewer planes → bigger buckets) and
  multi-probe.
- **hard negatives**: exact all-block grid (O(n²·d) BLAS, right to ~10⁸
  vectors) and the SRP-bucketed near-linear scale path past it — both
  feed one shared local-top-k kernel + window reduction.
"""

from __future__ import annotations

import random
from typing import NamedTuple, Sequence

from pyspark.sql import DataFrame as SparkDF, functions as F

from ons_utils_spark.functions.arrays import (
    array_dot,
    array_l2_norm,
    cosine_similarity,
)
from ons_utils_spark.functions.localrel import local_rows_df
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


def cosine_topk(
    df: SparkDF,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> SparkDF:
    """Exact top-``k`` rows by cosine similarity to ``query_vec``.

    Returns ``(id, cos_sim)`` ordered by similarity desc (ties broken by
    id asc, so results are deterministic).
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "id")
        .limit(k)
    )


def srp_signature(vec_col, planes: Sequence[Sequence[float]]):
    """Sign pattern of random-hyperplane projections → ``bigint`` bucket id.

    bit_i = 1 iff ``vec · plane_i > 0``. With ``len(planes)`` ≤ 63 the
    pattern packs into one bigint.
    """
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    acc = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(v)) for v in plane])
        bit = F.when(array_dot(col, p) > 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(
            F.lit(0).cast("bigint")
        )
        acc = acc.bitwiseOR(bit)
    return acc


def make_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (Gaussian components)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def srp_topk(
    df: SparkDF,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
) -> SparkDF:
    """Approximate top-``k``: score only vectors in the query's SRP bucket.

    At scale the bucketed table would be written partitioned by the bucket
    id (partition pruning turns the probe into a single-partition scan);
    here the bucket filter is pushed into the scan as a predicate on the
    computed signature. Recall < 1 by construction — verify against
    :func:`cosine_topk` when tuning.
    """
    dim = len(query_vec)
    planes = make_planes(dim, n_planes=n_planes, seed=seed)
    q_bucket = 0
    for i, plane in enumerate(planes):
        if sum(float(a) * float(b) for a, b in zip(query_vec, plane)) > 0:
            q_bucket |= 1 << i

    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        df.withColumn("__bucket", srp_signature(vec_col, planes))
        .where(F.col("__bucket") == q_bucket)
        .select(
            F.col(id_col).alias("id"),
            F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "id")
        .limit(k)
    )


def ivf_build(
    df: SparkDF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
):
    """Build an IVF (inverted-file) index: KMeans centroids + assignments.

    Returns ``(assigned_df, centroids)`` where ``assigned_df`` adds a
    ``__list`` column (nearest-centroid id) and ``centroids`` is the
    driver-side ``list[(list_id, center_vector)]``.

    At scale the assigned table is written partitioned by ``__list`` so a
    probe scans only ``n_probe`` partitions (partition pruning). Uses
    ``pyspark.ml`` KMeans — distributed fit, broadcast centroids for
    assignment.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "features"
        ),
    )
    model = KMeans(k=n_lists, seed=seed, featuresCol="features").fit(vecs)
    assigned = (
        model.transform(vecs)
        .withColumnRenamed("prediction", "__list")
        .select("id", "vec", "__list")
    )
    centroids = [(i, list(map(float, c))) for i, c in enumerate(model.clusterCenters())]
    return assigned, centroids


def ivf_topk(
    assigned: SparkDF,
    centroids,
    query_vec,
    k: int = 10,
    n_probe: int = 4,
) -> SparkDF:
    """Approximate top-``k`` from an IVF index: score only the ``n_probe``
    lists whose centroids are nearest the query.

    Recall grows with ``n_probe`` (``n_probe == n_lists`` degenerates to the
    exact brute-force scan). The list filter is a pushdown-able predicate —
    with a ``__list``-partitioned table it prunes whole partitions.
    """
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    q = [float(v) for v in query_vec]
    probe_lists = [
        lid for lid, _ in sorted(centroids, key=lambda c: -cos(q, c[1]))[:n_probe]
    ]

    q_col = F.array(*[F.lit(v) for v in q])
    return (
        assigned.where(F.col("__list").isin(probe_lists))
        .select(
            "id",
            F.round(cosine_similarity(F.col("vec"), q_col), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "id")
        .limit(k)
    )


def quantize_embeddings(
    df: SparkDF,
    vec_col: str = "embedding",
    bits: int = 8,
    q_col: str = "q",
    scale_col: str = "scale",
) -> SparkDF:
    """Symmetric per-vector scalar quantization of an embedding column.

    Adds ``scale_col`` (``max(|v_i|) / (2^(bits-1) - 1)``, double) and
    ``q_col`` (``array<int>`` of ``floor(v_i / scale + 0.5)`` — floor-based
    half-up rounding, which every SQL engine computes identically, unlike
    bare ``round`` whose tie mode differs between engines). Dequantize as
    ``q_i * scale``; max elementwise reconstruction error is ``scale / 2``.

    At 100 TB this is the storage/IO play: int8 vectors are 4× smaller
    than float32 on disk and over the shuffle, and ANN candidate
    generation (SRP buckets, IVF lists) works on the quantized form,
    reserving full-precision re-scoring for the final candidates. Pure
    row-local projection — zero shuffle. Zero vectors get scale 0 and
    all-zero codes (the ``greatest`` guard avoids 0/0).
    """
    if not 2 <= bits <= 16:
        raise ValueError(f"bits must be in [2, 16], got {bits}")
    qmax = float((1 << (bits - 1)) - 1)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    # Materialize the scale as a COLUMN before building the codes: Spark's
    # subexpression elimination skips lambda bodies, so inlining the
    # array_max subtree into the transform would re-evaluate the O(d) max
    # once PER ELEMENT — O(d²) per vector on this hot path.
    out = df.withColumn(scale_col, amax / F.lit(qmax))
    safe = F.greatest(F.col(scale_col), F.lit(1e-300))
    codes = F.transform(
        v, lambda x: F.floor(x / safe + F.lit(0.5)).cast("int")
    )
    return out.withColumn(q_col, codes)


def dequantize_embeddings(
    df: SparkDF,
    q_col: str = "q",
    scale_col: str = "scale",
    out_col: str = "embedding",
) -> SparkDF:
    """Inverse of :func:`quantize_embeddings`: ``out_i = q_i * scale``
    (``array<double>``)."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)),
    )


def normalize_embeddings(
    df: SparkDF,
    vec_col: str = "embedding",
    out_col: "str | None" = None,
) -> SparkDF:
    """L2-normalize an embedding column (``array<double>`` output) —
    the ingest-time transform that makes exact-L2 and cosine orderings
    coincide, so every distance-based stage downstream (IVF lists, PQ
    ADC, the refined exact re-rank, SQ grids) serves the cosine
    contract exactly (measured: the refined-recall metric-mismatch gap
    closes to zero on normalized vectors, SCALING.md §Refined serving).

    Row-local ``zip_with``/``aggregate`` fold — zero shuffle, zero
    Python; the norm is materialized as a column first so Spark's
    lambda-blind subexpression elimination can't re-evaluate the O(d)
    fold once per element. Zero vectors AND NULL vectors (a NULL
    array, or a NULL element — either propagates a NULL norm, which
    would otherwise flow a silent NULL output vector into every
    downstream distance) raise at the first action.
    """
    out = out_col or vec_col
    # Collision-safe temp name — a user column literally named __norm
    # must not be silently consumed and dropped.
    tmp = "__norm"
    while tmp in df.columns:
        tmp += "_"
    norm = array_l2_norm(F.col(vec_col))
    # The NULL check must sit OUTSIDE any array lambda: transform(NULL,
    # f) short-circuits to NULL without evaluating f (and Catalyst
    # inlines the collapsed temp column into the lambda), so a guard
    # folded into the norm column never fires for a NULL array. A
    # top-level when() condition always evaluates.
    has_null = F.col(vec_col).isNull() | F.coalesce(
        F.exists(F.col(vec_col), lambda x: x.isNull()), F.lit(True)
    )
    return (
        df.withColumn(
            tmp,
            F.when(
                norm == 0.0,
                F.raise_error(F.concat(
                    F.lit("normalize_embeddings: zero-norm vector — "
                          "cosine is undefined; drop or re-embed it "
                          "upstream"),
                )),
            ).otherwise(norm),
        )
        .withColumn(
            out,
            F.when(
                has_null,
                F.raise_error(F.concat(
                    F.lit("normalize_embeddings: NULL vector or NULL "
                          "element — the norm is undefined; drop or "
                          "repair the row upstream"),
                )).cast("array<double>"),
            ).otherwise(
                F.transform(
                    F.col(vec_col),
                    lambda x: x.cast("double") / F.col(tmp),
                )
            ),
        )
        .drop(tmp)
    )


def sq_train(
    df: SparkDF,
    dim: int,
    vec_col: str = "embedding",
) -> "tuple[list[float], list[float]]":
    """Train a per-dimension scalar quantizer (FAISS
    ``IndexScalarQuantizer`` / SQ8 family): the corpus ``min``/``max``
    of every dimension, in ONE aggregation pass (``2·dim`` partial
    min/max aggregates — map-side combine, no shuffle wider than the
    final 1-row reduce).

    Complements :func:`quantize_embeddings` (per-VECTOR symmetric
    scale, storage-oriented): the per-DIMENSION affine grid is trained
    on the corpus, so codes from different rows are comparable and a
    query can be scored directly against codes (:func:`sq_adc_topk`)
    without reconstructing vectors. Train on a sample at scale —
    min/max need ~10⁵ rows, not the corpus.

    Returns ``(vmin, vmax)`` — two ``dim``-length lists of doubles.
    """
    aggs = []
    for i in range(dim):
        # try_element_at: a short vector yields NULL here (not an ANSI
        # out-of-bounds error mid-aggregate) so the malformed-corpus
        # guard below owns the failure, with a real message.
        e = F.try_element_at(F.col(vec_col), F.lit(i + 1)).cast("double")
        aggs.append(F.min(e).alias(f"mn{i}"))
        aggs.append(F.max(e).alias(f"mx{i}"))
    # Malformed rows counted in the SAME one aggregation pass: min/max
    # SKIP NULLs, so a mixed-length corpus (or NULL elements) would
    # otherwise train a plausible grid that sq_encode's zip_with then
    # silently truncates short rows against (ADVICE r11).
    bad_vec = (
        F.col(vec_col).isNull()
        | (F.size(vec_col) != dim)
        | F.exists(vec_col, lambda x: x.isNull())
    )
    aggs.append(F.sum(bad_vec.cast("int")).alias("__bad"))
    row = df.agg(*aggs).collect()[0]
    if row[0] is None and not row["__bad"]:
        raise ValueError("sq_train on an empty corpus — nothing to train")
    if row["__bad"]:
        raise ValueError(
            f"sq_train: {row['__bad']} vector(s) are NULL, carry a NULL "
            f"element, or are not {dim}-dim — training on them would "
            "produce a grid sq_encode silently truncates short rows "
            "against; fix the corpus upstream"
        )
    return (
        [float(row[f"mn{i}"]) for i in range(dim)],
        [float(row[f"mx{i}"]) for i in range(dim)],
    )


def _sq_levels(bits: int) -> int:
    """Grid level count for a bit width — FAISS's SQ4/SQ6/SQ8 family
    generalized: codes live in ``[0, 2^bits − 1]``."""
    if not 2 <= bits <= 16:
        raise ValueError(f"bits must be in [2, 16], got {bits}")
    return (1 << bits) - 1


def _sq_deltas(
    vmin: "list[float]", vmax: "list[float]", bits: int = 8,
) -> "list[float]":
    """Per-dimension grid step ``(max − min) / (2^bits − 1)``; 0 for
    constant dimensions (their code is pinned to 0 and decode returns
    ``vmin``)."""
    levels = _sq_levels(bits)
    return [
        (mx - mn) / levels if mx > mn else 0.0
        for mn, mx in zip(vmin, vmax)
    ]


def sq_encode(
    df: SparkDF,
    vmin: "list[float]",
    vmax: "list[float]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: Sequence[str] = (),
    bits: int = 8,
) -> SparkDF:
    """Encode vectors on the trained per-dimension grid:
    ``code_i = clamp(floor((x_i − vmin_i) / Δ_i + 0.5), 0, 2^bits−1)``
    — floor-based half-up rounding (the tie mode every engine computes
    identically), values outside the trained range clamp to the grid
    edges (exactly how FAISS SQ handles out-of-sample values). 32 GB of
    float32 becomes 8 GB of codes at the SQ8 default; ``bits`` widens
    the codec matrix to FAISS's SQ4/SQ6 points (the same trained grid —
    min/max training is bit-width-independent — at 8×/5.3× compression
    with measured recall in SCALING.md §SQ bit widths). One row-local
    projection, zero shuffle, zero Python.

    Returns ``(id, codes array<int>, *carry_cols)`` — ``carry_cols``
    ride through the projection (e.g. an IVF ``__list``), no join back.
    """
    if len(vmin) != len(vmax):
        raise ValueError(
            f"vmin/vmax length mismatch: {len(vmin)} vs {len(vmax)}"
        )
    levels = _sq_levels(bits)
    deltas = _sq_deltas(vmin, vmax, bits=bits)
    mn_arr = F.array(*[F.lit(v) for v in vmin])
    # Division form (not a precomputed 1/Δ multiply): an external SQL
    # auditor computes (x − mn) / Δ, and the two differ in IEEE.
    d_arr = F.array(*[F.lit(d) for d in deltas])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    shifted = F.zip_with(v, mn_arr, lambda x, mn: x - mn)
    codes = F.zip_with(
        shifted,
        d_arr,
        # Clamp BEFORE the int cast: a value far outside the trained
        # range floors to a huge number whose double->int cast is
        # engine-defined (Spark saturates, ANSI SQL errors) — clamped
        # to [0, levels] first, the cast is exact everywhere.
        lambda s, d: F.when(d == 0.0, F.lit(0)).otherwise(
            F.least(
                F.greatest(
                    F.floor(s / d + F.lit(0.5)), F.lit(0).cast("bigint")
                ),
                F.lit(levels).cast("bigint"),
            ).cast("int")
        ),
    )
    return df.select(
        F.col(id_col).alias("id"), codes.alias("codes"), *carry_cols
    )


def sq_adc_topk(
    codes: SparkDF,
    vmin: "list[float]",
    vmax: "list[float]",
    query_vec: Sequence[float],
    topk: int = 10,
    round_dp: int = 6,
    bits: int = 8,
) -> SparkDF:
    """Asymmetric top-``k`` against SQ codes: exact squared L2 between
    the full-precision query and each DECODED vector
    ``x̂_i = vmin_i + code_i·Δ_i`` — computed directly on the codes
    (``(q_i − x̂_i)²`` summed left-to-right), never materializing a
    float vector column. Row-local ``zip_with``/``aggregate`` fold in
    whole-stage codegen; top-k plans as TakeOrderedAndProject. The scan
    reads 8-bit-grid ints — 4× less IO than the raw float table, with
    per-dimension fidelity PQ's subspace centroids trade away (SQ8 is
    the high-recall/low-compression point of the codec family; compose
    with IVF lists for pruning exactly like PQ).

    Returns ``(id, adc_dist)`` ascending, ties by id.
    """
    q = [float(x) for x in query_vec]
    if len(q) != len(vmin):
        raise ValueError(f"query dim {len(q)} != trained dim {len(vmin)}")
    q_arr = F.array(*[F.lit(v) for v in q])
    dist = _sq_dist_expr(q_arr, vmin, vmax, bits)
    # NULL codes raise with the offending id (pq._guard_literal_score —
    # same message as the batch scorer's Arrow-side _codes_matrix), not
    # a NULL distance that asc-sorts FIRST and silently tops the list.
    from ons_utils_spark.operators.pq import _guard_literal_score

    return (
        codes.select(
            "id", F.round(_guard_literal_score(dist), round_dp).alias(
                "adc_dist"
            )
        )
        .orderBy(F.col("adc_dist").asc(), F.col("id").asc())
        .limit(topk)
    )


def _sq_dist_expr(q_col, vmin, vmax, bits: int):
    """The decoded squared-L2 fold between a query-array COLUMN and a
    row's SQ codes: ``Σ_i (q_i − (vmin_i + code_i·Δ_i))²`` in the
    left-to-right ``aggregate`` order. ONE copy of the parity-critical
    expression — :func:`sq_adc_topk` binds ``q_col`` to a literal
    array, the residual probe scan to the row's per-list query
    residual (:func:`ivf_sq_topk` ``by_residual=True``)."""
    deltas = _sq_deltas(vmin, vmax, bits=bits)
    mn_arr = F.array(*[F.lit(v) for v in vmin])
    d_arr = F.array(*[F.lit(d) for d in deltas])
    scaled = F.zip_with(
        F.col("codes"), d_arr, lambda c, d: c.cast("double") * d
    )
    decoded = F.zip_with(scaled, mn_arr, lambda s, mn: mn + s)
    diffs = F.zip_with(q_col, decoded, lambda a, b: (a - b) * (a - b))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def ivf_sq_build(
    df: SparkDF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_lists: int = 8,
    coarse_iter: int = 2,
    round_dp: int = 6,
    method: str = "auto",
    train_on: "SparkDF | float | None" = None,
    bits: int = 8,
    by_residual: bool = False,
) -> "tuple[SparkDF, list[list[float]], list[float], list[float]]":
    """IVF×SQ: coarse-quantize into ``n_lists`` inverted lists, SQ8-
    encode every vector — FAISS's ``IVFx,SQ8`` shape, the high-recall
    point of the codec×pruning matrix (measured: SQ8 0.984 recall@10 at
    4× vs PQ 0.62 at 16× on the diffuse fixture, SCALING.md §SQ8).

    Same structure as :func:`pq.ivf_pq_build`: the deterministic Lloyd
    assigns lists (``train_on`` samples the CENTROID training; the full
    corpus is always assigned), the grid trains on the full corpus
    min/max (one cheap aggregate pass — a sampled grid would only
    change edge clamps), and ``__list`` rides through encoding as a
    carried column — no join back. Write ``coded`` partitioned by
    ``__list`` for probe-time partition pruning.

    ``by_residual=True`` is FAISS's ``IndexIVFScalarQuantizer``
    DEFAULT: the grid trains on and codes encode the RESIDUAL
    ``vec − coarse_centroid[__list]`` (the exact ``zip_with``
    subtraction shared with the PQ family, ``pq._residual_transform``
    — one copy). Residuals concentrate near the origin, so the same
    bit budget quantizes a narrower per-dimension range — finer steps,
    better recall at partial probe (measured in SCALING.md §IVF×SQ
    residual); the cost is a grid coupled to the coarse step and a
    per-probed-list query residual at serving time. The coded table is
    geometry-tagged in column METADATA (the PQ guard, shared) so
    scoring with the wrong flag raises instead of returning
    plausible-looking garbage.

    Returns ``(coded, coarse_centroids, vmin, vmax)`` with ``coded`` =
    ``(id, codes array<int>, __list)``.
    """
    from ons_utils_spark.operators.pq import _residual_transform
    from ons_utils_spark.operators.semantic import kmeans_lloyd

    assigned, coarse = kmeans_lloyd(
        df, id_col, vec_col, k=n_lists, n_iter=coarse_iter,
        round_dp=round_dp, method=method, train_on=train_on,
    )
    src = assigned.withColumn("__list", F.col("__cluster"))
    enc_col = vec_col
    if by_residual:
        src = _residual_transform(src, vec_col, coarse)
        enc_col = "__rvec"
        vmin, vmax = sq_train(src, dim, vec_col="__rvec")
    else:
        vmin, vmax = sq_train(df, dim, vec_col=vec_col)
    coded = sq_encode(
        src, vmin, vmax, id_col=id_col, vec_col=enc_col,
        carry_cols=("__list",), bits=bits,
    )
    return _tag_residual(coded, by_residual), coarse, vmin, vmax


def ivf_sq_topk(
    coded: SparkDF,
    coarse_centroids: "list[list[float]]",
    vmin: "list[float]",
    vmax: "list[float]",
    query_vec: Sequence[float],
    n_probe: int = 2,
    topk: int = 10,
    round_dp: int = 6,
    bits: int = 8,
    by_residual: bool = False,
) -> SparkDF:
    """Approximate top-``k`` from an IVF×SQ index: decoded-distance
    scan of only the ``n_probe`` nearest lists — :func:`pq.ivf_pq_topk`
    with SQ's exact-on-the-grid distances instead of subspace LUTs
    (no per-query table build at all: the decode constants are the
    stored grid, independent of the query). List selection is the same
    driver arithmetic (squared L2 to coarse centroids, ties by list
    id); the scan is a pushdown-able ``__list IN (...)`` filter.

    ``by_residual=True`` scores codes built by
    :func:`ivf_sq_build(by_residual=True)`: the scan compares each
    row's decoded RESIDUAL to the query residual
    ``q − coarse_centroid[list]`` — still a row-local expression, the
    per-list query residuals folding in as ``n_probe × dim`` plan
    literals picked by ``array_position`` on the row's ``__list``
    (bounded by the probe count, never ``n_lists``). Must match the
    build flag — the column-metadata geometry tag raises on mismatch.
    """
    from ons_utils_spark.operators.semantic import _py_dot

    _check_residual_flag(coded, by_residual)
    q = [float(v) for v in query_vec]
    if len(q) != len(vmin):
        raise ValueError(f"query dim {len(q)} != trained dim {len(vmin)}")
    bad_dim = next(
        (len(c) for c in coarse_centroids if len(c) != len(q)), None
    )
    if bad_dim is not None:
        # zip() in the probe dots would silently truncate a ragged or
        # mis-sized centroid — same guard as ivf_pq_topk, every row.
        raise ValueError(
            f"coarse centroid dim {bad_dim} != query dim {len(q)}"
        )
    qq = _py_dot(q, q)
    probe = [
        j for _, j in sorted(
            (qq + _py_dot(c, c) - 2 * _py_dot(q, c), j)
            for j, c in enumerate(coarse_centroids)
        )[:n_probe]
    ]
    if not by_residual:
        return sq_adc_topk(
            coded.where(F.col("__list").isin(probe)),
            vmin, vmax, q, topk=topk, round_dp=round_dp, bits=bits,
        )
    # Per-probed-list query residual, computed driver-side with the
    # same single IEEE subtraction the rows' residuals used; the row
    # picks its list's residual by probe position — n_probe × dim
    # literals in the plan.
    qres = [
        [qv - cv for qv, cv in zip(q, coarse_centroids[lst])]
        for lst in probe
    ]
    qres_lits = F.array(*[
        F.array(*[F.lit(v) for v in qr]) for qr in qres
    ])
    pos = F.array_position(
        F.array(*[F.lit(int(lst)) for lst in probe]), F.col("__list")
    )
    q_col = F.element_at(qres_lits, pos.cast("int"))
    dist = _sq_dist_expr(q_col, vmin, vmax, bits)
    from ons_utils_spark.operators.pq import _guard_literal_score

    return (
        coded.where(F.col("__list").isin(probe))
        .select(
            "id",
            F.round(_guard_literal_score(dist), round_dp).alias(
                "adc_dist"
            ),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("id").asc())
        .limit(topk)
    )


class SqIndex(NamedTuple):
    """Durable IVF×SQ index artifact — the SQ twin of
    :class:`pq.IvfPqIndex`: everything a serving session needs to
    answer queries WITHOUT retraining (coarse centroids + the trained
    per-dimension grid), fingerprinted so a corrupted store fails
    loudly. ``coarse_centroids == []`` is a valid plain-SQ index
    (query it with :func:`sq_adc_topk`)."""

    coarse_centroids: "list[list[float]]"
    vmin: "list[float]"
    vmax: "list[float]"
    round_dp: int
    fingerprint: str
    #: Grid bit width (FAISS SQ4/SQ6/SQ8). Trailing default keeps every
    #: pre-r12 construction site and store compatible.
    bits: int = 8
    #: Residual encoding (FAISS IndexIVFScalarQuantizer's default mode):
    #: the grid was trained on and codes encode vec − coarse_centroid.
    by_residual: bool = False
    #: Optional OPQ-style rotation (``pq.opq_train``) — when set, the
    #: centroids, grid and coded table live in the rotated space and
    #: every index-driven entry point (query, batch, encode → append /
    #: stream / CDC) rotates raw inputs itself, exactly as the PQ twin.
    rotation: "list[list[float]] | None" = None

    @property
    def n_lists(self) -> int:
        return len(self.coarse_centroids)

    @property
    def dim(self) -> int:
        return len(self.vmin)

    @property
    def codec(self) -> CodedTableCodec:
        """The family's coded-table codec, :data:`SQ_CODEC`."""
        return SQ_CODEC


def _sq_fingerprint(coarse, vmin, vmax, round_dp: int,
                    bits: int = 8, by_residual: bool = False,
                    rotation=None) -> str:
    """sha256 hex (16 chars) over the exact payload — ``repr`` of a
    float is its shortest round-trip form, so bit-identical grids hash
    identically and single-ulp corruption changes the digest.
    Non-default geometry flags join the payload as TAGGED extras, so
    every SQ8/raw store written before a flag existed keeps its valid
    fingerprint while distinct geometries can never collide."""
    import hashlib

    base = (
        [[float(x) for x in c] for c in coarse],
        [float(x) for x in vmin],
        [float(x) for x in vmax],
        int(round_dp),
    )
    extras = []
    if bits != 8:
        extras.append(("bits", int(bits)))
    if by_residual:
        extras.append(("by_residual", True))
    if rotation is not None:
        extras.append(
            ("rotation", [[float(x) for x in r] for r in rotation])
        )
    payload = repr(base + tuple(extras) if extras else base)
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]


def make_sq_index(
    coarse_centroids: "list[list[float]]",
    vmin: "list[float]",
    vmax: "list[float]",
    round_dp: int = 6,
    bits: int = 8,
    by_residual: bool = False,
    rotation: "list[list[float]] | None" = None,
) -> SqIndex:
    """Wrap :func:`ivf_sq_build` (or :func:`sq_train`) outputs as a
    fingerprinted :class:`SqIndex`, validating geometry up front."""
    if not vmin or len(vmin) != len(vmax):
        raise ValueError(
            f"vmin/vmax must be equal-length non-empty: "
            f"{len(vmin)} vs {len(vmax)}"
        )
    if any(hi < lo for lo, hi in zip(vmin, vmax)):
        raise ValueError("vmax < vmin on some dimension — not a trained grid")
    dim = len(vmin)
    coarse = [[float(x) for x in c] for c in coarse_centroids]
    if coarse and any(len(c) != dim for c in coarse):
        raise ValueError(f"coarse centroid dim != grid dim {dim}")
    _sq_levels(bits)  # range-validate up front
    if by_residual and not coarse:
        raise ValueError(
            "by_residual=True needs coarse centroids — a plain-SQ "
            "index has no residual to encode against"
        )
    mn = [float(x) for x in vmin]
    mx = [float(x) for x in vmax]
    rot = None
    if rotation is not None:
        import numpy as np

        R = np.asarray(rotation, dtype=np.float64)
        if R.shape != (dim, dim):
            raise ValueError(
                f"rotation shape {R.shape} != grid dim ({dim}, {dim})"
            )
        if not np.allclose(R @ R.T, np.eye(dim), atol=1e-6):
            raise ValueError(
                "rotation is not orthogonal (R·Rᵀ ≠ I within 1e-6) — "
                "train it with pq.opq_train"
            )
        rot = [[float(x) for x in row] for row in R]
    return SqIndex(
        coarse_centroids=coarse, vmin=mn, vmax=mx,
        round_dp=int(round_dp),
        fingerprint=_sq_fingerprint(
            coarse, mn, mx, round_dp, bits, by_residual, rot
        ),
        bits=int(bits), by_residual=bool(by_residual), rotation=rot,
    )


_SQ_INDEX_META_SCHEMA = (
    "format_version int, round_dp int, n_lists int, dim int, "
    "fingerprint string, coded_generation string, bits int, "
    "by_residual boolean"
)
_SQ_INDEX_VECTORS_SCHEMA = "component string, idx int, vec array<double>"


def save_sq_index(
    spark, index: SqIndex, path: str,
    coded_generation: "str | None" = None,
) -> None:
    """Persist a :class:`SqIndex` as two small parquet tables under
    ``path`` (``sources/store.py::write_index_artifact``, meta written
    last) — ``vectors/`` (coarse centroids + the two grid rows) and
    ``meta/`` (geometry + fingerprint). ``coded_generation`` is
    :func:`save_sq_table`'s commit record; NULL for standalone index
    stores.
    """
    rows = [
        ("coarse", j, c) for j, c in enumerate(index.coarse_centroids)
    ] + [("vmin", 0, index.vmin), ("vmax", 0, index.vmax)] + (
        # the rotation rides the same vectors table (one row per output
        # dimension) — no meta schema change, pre-rotation stores and
        # loaders stay mutually compatible (the PQ twin's recipe)
        [("rotation", j, r) for j, r in enumerate(index.rotation)]
        if index.rotation is not None else []
    )
    write_index_artifact(
        spark, path, rows, _SQ_INDEX_VECTORS_SCHEMA,
        (
            INDEX_FORMAT_VERSION, index.round_dp, index.n_lists,
            index.dim, index.fingerprint, coded_generation, index.bits,
            index.by_residual,
        ),
        _SQ_INDEX_META_SCHEMA,
    )


def load_sq_index(spark, path: str) -> SqIndex:
    """Load an index written by :func:`save_sq_index`, verifying the
    stored fingerprint against a recomputation over the loaded payload
    (parquet round-trips doubles bit-exactly — a mismatch means
    corruption, and serving with it would return plausible-looking
    garbage). The driver read is index-geometry-sized."""
    return _load_sq_index_with_meta(spark, path)[0]


def _load_sq_index_with_meta(spark, path: str):
    """:func:`load_sq_index` plus the raw meta row — one driver read
    (``sources/store.py::read_index_artifact``), no Spark job. The
    named schema reads pre-flag stores' missing ``bits`` /
    ``by_residual`` / ``coded_generation`` as NULL, which the geometry
    fallbacks below handle."""
    meta, rows = read_index_artifact(
        path, _SQ_INDEX_META_SCHEMA, _SQ_INDEX_VECTORS_SCHEMA, "IVF×SQ"
    )
    coarse_rows = sorted(
        (r["idx"], [float(x) for x in r["vec"]])
        for r in rows if r["component"] == "coarse"
    )
    grids = {
        r["component"]: [float(x) for x in r["vec"]]
        for r in rows if r["component"] in ("vmin", "vmax")
    }
    coarse = [v for _, v in coarse_rows]
    if (
        "vmin" not in grids or "vmax" not in grids
        or len(grids["vmin"]) != meta["dim"]
        or len(grids["vmax"]) != meta["dim"]
        or len(coarse) != meta["n_lists"]
        or [j for j, _ in coarse_rows] != list(range(meta["n_lists"]))
        or any(len(c) != meta["dim"] for c in coarse)
    ):
        raise ValueError(
            f"SQ index at {path!r} does not match its meta geometry "
            f"(n_lists={meta['n_lists']}, dim={meta['dim']}) — the "
            "store is corrupt"
        )
    # Pre-flag stores carry no bits / by_residual columns: they are
    # raw SQ8.
    bits = int(meta["bits"]) if "bits" in meta and meta["bits"] is not None else 8
    by_residual = bool(
        meta["by_residual"]
        if "by_residual" in meta and meta["by_residual"] is not None
        else False
    )
    rot_rows = sorted(
        (r["idx"], [float(x) for x in r["vec"]])
        for r in rows if r["component"] == "rotation"
    )
    rotation = [v for _, v in rot_rows] or None
    if rotation is not None and (
        [j for j, _ in rot_rows] != list(range(meta["dim"]))
        or any(len(r) != meta["dim"] for r in rotation)
    ):
        raise ValueError(
            f"SQ index at {path!r} holds a malformed rotation "
            f"(expected {meta['dim']} rows of dim {meta['dim']}) — "
            "the store is corrupt"
        )
    got = _sq_fingerprint(
        coarse, grids["vmin"], grids["vmax"], meta["round_dp"], bits,
        by_residual, rotation,
    )
    if got != meta["fingerprint"]:
        raise ValueError(
            f"SQ index at {path!r} fails its fingerprint check "
            f"(stored {meta['fingerprint']}, recomputed {got}) — "
            "refusing to serve from a corrupted index"
        )
    index = SqIndex(
        coarse_centroids=coarse, vmin=grids["vmin"], vmax=grids["vmax"],
        round_dp=int(meta["round_dp"]), fingerprint=got, bits=bits,
        by_residual=by_residual, rotation=rotation,
    )
    return index, meta


def ivf_sq_encode(
    df: SparkDF,
    index: SqIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> SparkDF:
    """Encode NEW vectors with a STORED :class:`SqIndex` — no training.
    The maintenance primitive for a growing IVF×SQ corpus, mirroring
    :func:`pq.ivf_pq_encode`: the coarse assignment is the same
    ``v·v + c·c − 2·v·c`` argmin (``semantic._assign``) as
    :func:`ivf_sq_build`'s final Lloyd assignment, the grid encode the
    same :func:`sq_encode` expression — so for a FIXED index, encoding
    a batch here is bit-identical to having included it in the one-shot
    build (per-row arithmetic, no cross-row dependence once the
    centroids and grid are frozen; pinned in tests). New values outside
    the trained range clamp to the grid edges — exactly FAISS SQ's
    out-of-sample behavior, and the reason a sampled/stale grid stays
    serviceable as the corpus drifts.

    Returns the same ``(id, codes, __list)`` shape as
    :func:`ivf_sq_build`.
    """
    from ons_utils_spark.operators.pq import _assign_lists

    if not index.coarse_centroids:
        raise ValueError(
            "index has no coarse centroids (plain-SQ index) — encode "
            "plain SQ codes with sq_encode(vmin, vmax) instead"
        )
    src, enc_col = _assign_lists(df, index, vec_col, method)
    return _tag_residual(
        sq_encode(
            src, index.vmin, index.vmax, id_col=id_col, vec_col=enc_col,
            carry_cols=("__list",), bits=index.bits,
        ),
        index.by_residual,
    )


def ivf_sq_query(
    coded: SparkDF,
    index: SqIndex,
    query_vec: Sequence[float],
    n_probe: int = 2,
    topk: int = 10,
) -> SparkDF:
    """Serve a query from a loaded :class:`SqIndex` — always scores
    with the STORED grid and centroids (the durable authority), same
    contract as :func:`pq.ivf_pq_query`. An OPQ-rotated store rotates
    the raw query here (the PQ twin's rule)."""
    if index.rotation is not None:
        from ons_utils_spark.operators.pq import rotate_query

        query_vec = rotate_query(query_vec, index.rotation)
    return ivf_sq_topk(
        coded, index.coarse_centroids, index.vmin, index.vmax,
        query_vec, n_probe=n_probe, topk=topk, round_dp=index.round_dp,
        bits=index.bits, by_residual=index.by_residual,
    )


def save_sq_table(coded: SparkDF, index: SqIndex, path: str) -> None:
    """:func:`pq.save_ivf_pq_table` for IVF×SQ —
    ``sources/store.py::coded_table_save`` bound to :data:`SQ_CODEC`."""
    coded_table_save(SQ_CODEC, coded, index, path)


def load_sq_table(spark, path: str) -> "tuple[SparkDF, SqIndex]":
    """:func:`pq.load_ivf_pq_table` for IVF×SQ —
    ``sources/store.py::coded_table_load`` bound to :data:`SQ_CODEC`."""
    return coded_table_load(SQ_CODEC, spark, path)


def ivf_sq_table_delete(
    spark,
    store_path: str,
    ids: "Sequence",
    batch_id: int,
) -> None:
    """:func:`pq.ivf_pq_table_delete` for IVF×SQ —
    ``sources/store.py::coded_table_delete`` bound to :data:`SQ_CODEC`."""
    coded_table_delete(SQ_CODEC, spark, store_path, ids, batch_id)


def ivf_sq_table_append(
    df: SparkDF,
    store_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: "int | None" = None,
    method: str = "auto",
) -> None:
    """:func:`pq.ivf_pq_table_append` for IVF×SQ —
    ``sources/store.py::coded_table_append`` bound to :data:`SQ_CODEC`."""
    coded_table_append(
        SQ_CODEC, df, store_path, id_col, vec_col, batch_id, method
    )


def ivf_sq_table_compact(spark, store_path: str) -> None:
    """:func:`pq.ivf_pq_table_compact` for IVF×SQ —
    ``sources/store.py::coded_table_compact`` bound to :data:`SQ_CODEC`."""
    coded_table_compact(SQ_CODEC, spark, store_path)


def ivf_sq_batch_topk(
    coded: SparkDF,
    index: SqIndex,
    queries: SparkDF,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    topk: int = 10,
) -> SparkDF:
    """Approximate top-``k`` for EVERY query in a query TABLE →
    ``(query_id, id, adc_dist)`` — the batch retrieval shape for the
    IVF×SQ family, completing the codec matrix's serving parity with
    :func:`pq.ivf_pq_batch_topk`.

    SIMPLER than the PQ batch scorer by construction: SQ has no
    per-query lookup tables — the decode constants are the stored grid,
    shared by every query — so the driver stage is probe selection
    only (one vectorized ``q·q + c·c − 2·q·c`` fold over the coarse
    centroids, same dimension-major IEEE order as the single-query
    ``_py_dot`` loop, stable argsort for the low-id tie-break) and the
    mapInPandas closure ships just the grid + the query matrix +
    per-query sorted probe lists (O(n_q · (dim + n_probe)) — no LUT
    closure cap needed). The scan is PQ's (``pq._probed_scores``):
    each batch's codes decode ONCE (``x̂ = vmin + code·Δ``, the same
    two elementwise roundings as the ``zip_with`` expression) and each
    row scores against exactly the queries probing its list with the
    sequential dimension-major squared-difference fold — bit-identical to
    :func:`sq_adc_topk`'s ``aggregate`` fold (pinned in tests). NULL
    codes raise with the offending id (``pq._codes_matrix`` — the same
    message as the single-query guard). Top-k is the shared exact
    two-phase per-query window (``pq._two_phase_batch_topk``). Per
    query, results are bit-identical to :func:`ivf_sq_query`.

    A ``by_residual`` index scores each row against ITS probing
    query's per-list residual — the residuals are a driver-side
    ``n_q × n_probe × dim`` matrix (same single IEEE subtraction as
    the single-query path) and each row picks its probe POSITION via
    the same searchsorted membership; still no per-query LUTs.
    """
    from ons_utils_spark.operators.pq import (
        _check_query_ids, _two_phase_batch_topk,
    )

    rows = queries.select(query_id_col, vec_col).collect()
    _check_query_ids([r[0] for r in rows], query_id_col)
    scored = _ivf_sq_batch_scored(
        coded, index, rows, queries.schema[query_id_col].dataType,
        vec_col=vec_col, n_probe=n_probe,
    )
    return _two_phase_batch_topk(scored, topk, query_id_col)


def _ivf_sq_batch_scored(coded, index, rows, qid_type, vec_col="embedding",
                         n_probe=2):
    """:func:`ivf_sq_batch_topk` before its top-``k`` — the IVF×SQ
    codec's ``batch_scored`` (``pq._ivf_pq_batch_scored``'s contract)."""
    import numpy as np

    from ons_utils_spark.operators.pq import (
        _probe_mat, _probed_scores, _query_matrix,
    )

    if not index.coarse_centroids:
        raise ValueError(
            "index has no coarse centroids (plain-SQ index) — batch "
            "retrieval needs probe selection over a __list-partitioned "
            "table; use sq_adc_topk for plain-SQ serving"
        )
    _check_residual_flag(coded, index.by_residual)
    Q = _query_matrix(rows, vec_col, index)
    probe_mat = _probe_mat(Q, index.coarse_centroids, n_probe)
    by_residual = index.by_residual
    Qres = (
        Q[:, None, :]
        - np.asarray(index.coarse_centroids, dtype=np.float64)[probe_mat]
        if by_residual else None
    )
    mn = np.asarray(index.vmin, dtype=np.float64)
    deltas = np.asarray(
        _sq_deltas(index.vmin, index.vmax, bits=index.bits),
        dtype=np.float64,
    )

    def decode(C):
        # Decode ONCE per batch, shared by every query: scaled = code·Δ
        # then mn + scaled — the zip_with expression's two elementwise
        # roundings in the same order.
        return mn[None, :] + C.astype(np.float64) * deltas[None, :]

    def score(decoded, qi, mask, pos):
        q = Qres[qi][pos] if by_residual else Q[qi][None, :]
        d = q - decoded[mask]
        sq = d * d
        # Sequential dimension-major fold from 0.0 — the IEEE image of
        # F.aggregate(diffs, 0.0, acc + x).
        s = np.zeros(sq.shape[0], dtype=np.float64)
        for di in range(sq.shape[1]):
            s += sq[:, di]
        return s

    return _probed_scores(
        coded, rows, qid_type, probe_mat, index.round_dp, decode, score
    )


#: The IVF×SQ codec of the coded serving table (``sources/store.py``).
SQ_CODEC = CodedTableCodec(
    family="sq",
    label="IVF×SQ",
    save_index=save_sq_index,
    load_index_with_meta=_load_sq_index_with_meta,
    encode=ivf_sq_encode,
    batch_scored=_ivf_sq_batch_scored,
)


#: Largest candidate shortlist mmr_rerank will greedy-select over. MMR
#: is O(n_cand × k × d) driver arithmetic over a retrieval output — a
#: shortlist wider than this is a retrieval bug, not a rerank workload,
#: and silently accepting it turns a k-row stage into a driver stall.
_MMR_MAX_CANDIDATES = 4096


def mmr_rerank(
    candidates: SparkDF,
    vectors: SparkDF,
    k: int = 10,
    lambda_: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cand_id_col: str = "id",
    score_col: str = "cos_sim",
    round_dp: int = 6,
) -> SparkDF:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR
    1998) of a retrieval shortlist: greedily pick ``k`` items maximizing
    ``λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`` — the standard diversity
    stage between retrieval and selection (near-duplicate results waste
    curation budget; MMR spends it on coverage).

    ``candidates`` is a retrieval output (``cosine_topk``, BM25 top-k,
    ``ivf_pq_topk_refined``, an RRF fusion…) carrying ``(cand_id_col,
    score_col)`` — ≤ :data:`_MMR_MAX_CANDIDATES` rows by contract (the
    collect bound; a sized error past it). ``vectors`` supplies the
    embeddings for the pairwise similarity term; the fetch pushes the
    candidate ids into the scan as an ``In`` literal — row-group
    pruning, so this stage reads ~shortlist-many rows of a 100 TB
    table. Selection itself is driver-side greedy (``O(n_cand · k ·
    d)`` — MMR is inherently sequential: pick ``i`` depends on picks
    ``1..i−1``; at shortlist scale the driver IS the right executor).

    Pairwise similarities are sequential-fold cosines (``_py_dot``
    order — bit-identical to the engines' ``zip_with``/``aggregate``
    and DuckDB's ``list_dot_product``), relevance is used exactly as
    given (already rounded by the retrieval stage), and only the final
    ``mmr_score`` is rounded — Spark-side, so an unrolled-CTE SQL
    oracle replays every pick and score bit-for-bit. The first pick's
    diversity term is 0 (empty selected set).

    Returns ``(rank, id, mmr_score)`` in selection order. Zero-norm
    candidate vectors raise (their cosine is undefined and any default
    would be an arbitrary, silent ranking choice).
    """
    import math

    from ons_utils_spark.operators.semantic import _py_dot

    if not 0.0 <= lambda_ <= 1.0:
        raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")
    # ONE execution of the candidates lineage (ADVICE r11: the previous
    # count()+collect() pair re-ran the whole upstream retrieval chain
    # — two index-store reads + fusion in the hybrid pipeline — once
    # per action): checkpoint the k-row projection and OBSERVE the
    # bound-check count on that same materialization (r13: the
    # standalone count() was a third driver-blocking job over rows the
    # checkpoint had already touched), then the collect reads the
    # materialized rows.
    from pyspark.sql import Observation

    obs = Observation()
    cand = (
        candidates.select(cand_id_col, score_col)
        .observe(obs, F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=True)
    )
    from ons_utils_spark.functions.observed import get_observed

    n_cand = get_observed(
        obs, fallback_df=cand,
        fallback_aggs=[F.count(F.lit(1)).alias("__n")],
    )["__n"]
    if n_cand > _MMR_MAX_CANDIDATES:
        raise ValueError(
            f"mmr_rerank got {n_cand} candidates — the greedy stage is "
            f"driver-side and contract-bounded at {_MMR_MAX_CANDIDATES}; "
            "tighten the retrieval top-k (or raise the bound consciously)"
        )
    cand_rows = cand.collect()
    rel = {r[cand_id_col]: float(r[score_col]) for r in cand_rows}
    ids = [r[cand_id_col] for r in cand_rows]
    if len(rel) != len(ids):
        # A duplicate id would keep both entries in `ids` but collapse
        # to one rel — the greedy loop could then pick the same id
        # twice (ADVICE r11). Duplicates mean a malformed shortlist.
        import collections

        dupes = [
            i for i, c in collections.Counter(ids).items() if c > 1
        ]
        raise ValueError(
            f"mmr_rerank got duplicate candidate id(s) (first: "
            f"{dupes[:5]}) — a retrieval shortlist must be unique "
            "per id; dedup it upstream"
        )
    spark = candidates.sparkSession
    # id dtype follows the candidates (bigint vec ids, string doc ids…)
    id_type = candidates.schema[cand_id_col].dataType.simpleString()
    out_schema = f"rank int, id {id_type}, mmr_score double"
    if not ids:
        return local_rows_df(spark, [], out_schema)
    vec_rows = (
        vectors.where(F.col(id_col).isin(ids))
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .collect()
    )
    vecs = {r["id"]: [float(x) for x in r["v"]] for r in vec_rows}
    missing = [i for i in ids if i not in vecs]
    if missing:
        raise ValueError(
            f"{len(missing)} candidate id(s) have no vector in the "
            f"vectors table (first: {missing[:5]}) — MMR needs every "
            "candidate's embedding for the diversity term"
        )
    norms = {}
    for i in ids:
        norms[i] = math.sqrt(_py_dot(vecs[i], vecs[i]))
        if norms[i] == 0.0:
            raise ValueError(
                f"candidate id {i} has a zero-norm vector — cosine "
                "similarity is undefined; drop or re-embed it upstream"
            )

    def _sim(a, b):
        return _py_dot(vecs[a], vecs[b]) / (norms[a] * norms[b])

    one_minus = 1 - lambda_
    remaining = sorted(ids)
    max_sim = {i: 0.0 for i in ids}  # max sim to the selected set so far
    picked = []  # (rank, id, raw mmr score)
    for rank in range(1, min(k, len(ids)) + 1):
        # Deterministic tie-break by id: max() keeps the FIRST maximal
        # element and `remaining` is id-sorted.
        best = max(
            remaining, key=lambda i: lambda_ * rel[i] - one_minus * max_sim[i]
        )
        picked.append(
            (rank, best, lambda_ * rel[best] - one_minus * max_sim[best])
        )
        remaining.remove(best)
        for i in remaining:
            s = _sim(i, best)
            # rank==1 overwrites unconditionally: the pre-seeded 0.0 is
            # the EMPTY-set convention for pick 1 only — from one
            # selected item on, max_sim is the true max over sims
            # (which can be negative).
            if rank == 1 or s > max_sim[i]:
                max_sim[i] = s
    return local_rows_df(spark, picked, out_schema).select(
        "rank", "id", F.round(F.col("mmr_score"), round_dp).alias(
            "mmr_score"
        ),
    )


def hard_negatives_blocked(
    df: SparkDF,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    n_blocks: int = 8,
) -> SparkDF:
    """Per-anchor top-``k`` most-similar vectors with a DIFFERENT label.

    Contrastive-training data mining: for every anchor, the hardest
    negatives are the most cosine-similar examples of another class.
    Returns ``(id, neg_id, cos_sim, rank)``, ``rank`` 1..k per anchor,
    ordered by similarity desc (ties by ``neg_id`` asc — deterministic).

    Plan — the shuffle-light exact formulation: ids hash into
    ``n_blocks`` blocks; every (anchor-block, candidate-block) ordered
    pair becomes one ``applyInPandas`` group whose float64 BLAS matmul
    emits only each anchor's LOCAL top-k; one window then reduces the
    B·k candidates per anchor to the global top-k. Intermediate volume is
    O(n · n_blocks · k) rows instead of the O(n²) a naive
    pair-materialization pays, while compute stays dense BLAS. Every
    global top-k member is necessarily top-k within its own block pair,
    so the reduction is exact. At 10⁸+ vectors swap the all-block grid
    for ANN candidates (SRP/IVF buckets above) feeding the same local-
    top-k + window reduction — :func:`hard_negatives_srp`.
    """
    spark = df.sparkSession
    id_ddl = df.schema[id_col].dataType.simpleString()
    label_ddl = df.schema[label_col].dataType.simpleString()
    block = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    data = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.col(label_col).alias("label"),
        block.alias("block"),
    )

    # Full ordered grid: an anchor in block b participates in groups
    # (b, j) for all j; a candidate in block b in groups (i, b) for all i.
    b = F.col("block")
    memberships = F.concat(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_blocks - 1)),
            lambda j: F.struct(
                b.alias("block_a"), j.alias("block_b"), F.lit("a").alias("side")
            ),
        ),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_blocks - 1)),
            lambda i: F.struct(
                i.alias("block_a"), b.alias("block_b"), F.lit("b").alias("side")
            ),
        ),
    )
    tagged = data.select(
        "id", "vec", "label", F.explode(memberships).alias("m")
    ).select("m.block_a", "m.block_b", "id", "vec", "label", "m.side")

    out_schema = (
        f"id {id_ddl}, neg_id {id_ddl}, cos_sim double, "
        f"anchor_label {label_ddl}"
    )

    n_parts = spark.sparkContext.defaultParallelism
    local = (
        tagged.repartition(n_parts, "block_a", "block_b")
        .groupBy("block_a", "block_b")
        .applyInPandas(_make_local_topk(k), out_schema)
    )
    return _global_topk_reduce(local, k)


def _make_local_topk(k: int):
    """The BLAS local-top-k kernel shared by the exact block grid
    (:func:`hard_negatives_blocked`) and the SRP-bucketed scale path
    (:func:`hard_negatives_srp`): within one group, emit each 'a'-side
    row's top-``k`` most-cosine-similar 'b'-side rows with a different
    label."""
    import numpy as np
    import pandas as pd

    def local_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == "a"].drop_duplicates("id")
        c = pdf[pdf["side"] == "b"].drop_duplicates("id")
        if a.empty or c.empty:
            return pd.DataFrame(
                columns=["id", "neg_id", "cos_sim", "anchor_label"]
            )
        ids_a = a["id"].to_numpy()
        ids_c = c["id"].to_numpy()
        lab_a = a["label"].to_numpy()
        lab_c = c["label"].to_numpy()
        mat_a = np.array(a["vec"].tolist(), dtype=np.float64)
        mat_c = np.array(c["vec"].tolist(), dtype=np.float64)
        # Zero-norm guard: dividing by 0 yields NaN sims, and NaN sorts
        # ABOVE every double in the final window — a zero vector would
        # rank as everyone's top hard negative. Mask those rows out like
        # label/self pairs instead (cosine is undefined for them).
        norm_a = np.linalg.norm(mat_a, axis=1, keepdims=True)
        norm_c = np.linalg.norm(mat_c, axis=1, keepdims=True)
        zero_a = norm_a[:, 0] == 0
        zero_c = norm_c[:, 0] == 0
        mat_a /= np.where(norm_a == 0, 1.0, norm_a)
        mat_c /= np.where(norm_c == 0, 1.0, norm_c)
        sims = np.round(mat_a @ mat_c.T, 6)
        # mask same-label, self, and undefined-cosine pairs
        sims[lab_a[:, None] == lab_c[None, :]] = -np.inf
        sims[ids_a[:, None] == ids_c[None, :]] = -np.inf
        sims[zero_a, :] = -np.inf
        sims[:, zero_c] = -np.inf
        rows = []
        kk = min(k, sims.shape[1])
        for i in range(sims.shape[0]):
            # top-k by (sim desc, neg_id asc) — the global tiebreak order
            order = np.lexsort((ids_c, -sims[i]))[:kk]
            for j in order:
                if sims[i, j] == -np.inf:
                    break
                rows.append((ids_a[i], ids_c[j], sims[i, j], lab_a[i]))
        return pd.DataFrame(
            rows, columns=["id", "neg_id", "cos_sim", "anchor_label"]
        )

    return local_topk


def _global_topk_reduce(local: SparkDF, k: int) -> SparkDF:
    """Window-reduce per-group local top-k candidates to the global
    top-``k`` per anchor (bounded k frame)."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(
        F.col("cos_sim").desc(), F.col("neg_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id", "neg_id", "cos_sim", "rank")
    )


def hard_negatives_srp(
    df: SparkDF,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
    max_bucket: "int | None" = 4096,
    n_tables: int = 1,
) -> SparkDF:
    """Approximate hard negatives via SRP-LSH buckets — the scale path
    past ~10⁸ vectors, where :func:`hard_negatives_blocked`'s exact
    all-block grid (inherently O(n²·d) FLOPs, probe-measured ratio 17×
    at a 10× scale-up) stops being affordable.

    Candidate generation replaces the full block grid: vectors bucket by
    the sign pattern of ``n_planes`` random hyperplane projections
    (:func:`srp_signature` — cosine-similar vectors agree on most
    signs), and each anchor is scored only against the candidates in its
    probed buckets, with the SAME BLAS local-top-k kernel + window
    reduction as the exact operator. ``multiprobe=True`` (default) also
    probes the ``n_planes`` buckets at Hamming distance 1 — the standard
    recall repair for anchors sitting near a hyperplane. Each
    (anchor, candidate) pair can arise in at most ONE group (a pair
    meets only in bucket(candidate)), so the reduction never
    double-counts.

    Sizing rule: pick ``n_planes ≈ log2(n / target_bucket)`` (e.g.
    target ~10³ vectors per bucket), and total compute is
    O(n · target_bucket · n_planes · d · n_tables) — near-linear in
    ``n`` with the probe count, instead of quadratic. Recall < 1 by
    construction (a hard negative whose bucket differs from the
    anchor's probed set in EVERY table is missed).

    ``n_tables`` is the recall lever (measured curve: ``SCALING.md``
    §SRP recall): a single signature misses too much on clustered data
    (0.56 recall@5 at the best single-table setting on the 10× probe
    fixture), so the standard LSH repair applies — ``n_tables``
    independent plane sets, candidates unioned across tables, pairs
    deduped exactly before ranking (a pair can co-bucket in several
    tables; ``cos_sim`` is deterministic so the dedup is a no-op on
    values). Recall compounds roughly as ``1-(1-r₁)^L``; the 20k-vector
    probe measured, at ``n_planes=4 + multiprobe``: 0.56 (L=1) → 0.79
    (2) → 0.90 (3) → 0.95 (4) → 0.99 (6) recall@5, with compute still
    ~n·bucket per table. **Recommended default at the sizing rule:
    ``n_tables=4``** (≥0.9 with margin). ``n_tables=1`` keeps the r6
    single-table contract bit-for-bit (and is this signature's default
    only for that compatibility).
    Returns the same ``(id, neg_id, cos_sim, rank)`` contract.

    ``max_bucket`` guards against bucket SKEW — the clustered-embedding
    case hard-negative mining exists for: real corpora concentrate in a
    few sign patterns, and an unguarded hot bucket becomes one
    ``applyInPandas`` straggler doing a near-full BLAS matmul (the same
    hazard ``fuzzy.py`` bounds with its ``max_bucket``). Any bucket
    whose anchor or candidate side exceeds ``max_bucket`` rows is split
    2-D: each side hash-salts into ``ceil(side/max_bucket)`` chunks and
    is replicated across the OTHER side's chunks, so groups become
    (bucket, anchor_salt, cand_salt) blocks of ≤ ``max_bucket`` rows per
    side. Total FLOPs are unchanged — the hot bucket's matmul is tiled
    across tasks instead of serialized in one. Every (anchor, candidate)
    pair still meets in exactly ONE group (each row has one salt on its
    own side), so results are bit-identical to the unguarded plan;
    ``None`` disables the guard.
    """
    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1 (got {n_tables})")
    spark = df.sparkSession
    id_ddl = df.schema[id_col].dataType.simpleString()
    label_ddl = df.schema[label_col].dataType.simpleString()
    # One signature per table, all computed in a single projection over
    # ONE scan (table 0 keeps the historical seed so n_tables=1 is
    # byte-compatible with the r6 contract and its SQL oracle).
    table_sigs = [
        F.struct(
            F.lit(t).cast("int").alias("t"),
            srp_signature(
                vec_col,
                make_planes(
                    dim,
                    n_planes=n_planes,
                    seed=seed if t == 0 else seed + 7919 * t,
                ),
            ).alias("bucket"),
        )
        for t in range(n_tables)
    ]
    data = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.col(label_col).alias("label"),
        F.explode(F.array(*table_sigs)).alias("tb"),
    ).select("id", "vec", "label", "tb.t", "tb.bucket")
    probes = [F.col("bucket")]
    if multiprobe:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("bigint"))
            for i in range(n_planes)
        ]
    anchors = data.select(
        "id",
        "vec",
        "label",
        "t",
        F.explode(F.array(*probes)).alias("g"),
        F.lit("a").alias("side"),
    )
    cands = data.select(
        "id",
        "vec",
        "label",
        "t",
        F.col("bucket").alias("g"),
        F.lit("b").alias("side"),
    )
    out_schema = (
        f"id {id_ddl}, neg_id {id_ddl}, cos_sim double, "
        f"anchor_label {label_ddl}"
    )
    n_parts = spark.sparkContext.defaultParallelism

    def reduce_tables(local: SparkDF) -> SparkDF:
        # Within ONE table a pair meets in at most one group, but across
        # tables the same (anchor, candidate) pair scores once per table
        # it co-buckets in — dedup before ranking or the window would
        # count one neighbor as several ranks. cos_sim is deterministic
        # (rounded in the kernel), so max() is exact, not a tie-break.
        if n_tables > 1:
            local = local.groupBy("id", "neg_id").agg(
                F.max("cos_sim").alias("cos_sim")
            )
        return _global_topk_reduce(local, k)

    if max_bucket is None:
        local = (
            anchors.unionByName(cands)
            .repartition(n_parts, "t", "g")
            .groupBy("t", "g")
            .applyInPandas(_make_local_topk(k), out_schema)
        )
        return reduce_tables(local)
    if max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1 or None (got {max_bucket})")
    # Skew guard — ONE scan: per-bucket side counts come from a window
    # over the union ALREADY shuffled by `g` (a groupBy-count + join-back
    # would rescan the input twice more), so the only added cost is the
    # per-bucket sort/count — row-wise and spillable even for a hot
    # bucket, unlike the BLAS matmul the salting bounds. Each row salts
    # its OWN side by id-hash and replicates across the OTHER side's
    # salt range; both expressions are row-local post-window.
    from pyspark.sql import Window

    w = Window.partitionBy("t", "g")
    is_a = F.col("side") == "a"
    salts_a = F.greatest(
        F.lit(1),
        F.ceil(
            F.sum(is_a.cast("long")).over(w) / F.lit(max_bucket)
        ),
    ).cast("int")
    salts_c = F.greatest(
        F.lit(1),
        F.ceil(
            F.sum((~is_a).cast("long")).over(w) / F.lit(max_bucket)
        ),
    ).cast("int")
    local = (
        anchors.unionByName(cands)
        .repartition(n_parts, "t", "g")
        .withColumn("__sa", salts_a)
        .withColumn("__sc", salts_c)
        .withColumn(
            "__own",
            F.pmod(
                F.xxhash64("id", F.lit(seed)),
                F.when(is_a, F.col("__sa")).otherwise(F.col("__sc")),
            ).cast("int"),
        )
        .withColumn(
            "__other",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.when(is_a, F.col("__sc")).otherwise(F.col("__sa")) - 1,
                )
            ),
        )
        .withColumn("__as", F.when(is_a, F.col("__own")).otherwise(F.col("__other")))
        .withColumn("__cs", F.when(is_a, F.col("__other")).otherwise(F.col("__own")))
        .drop("__sa", "__sc", "__own", "__other")
        .repartition(n_parts, "t", "g", "__as", "__cs")
        .groupBy("t", "g", "__as", "__cs")
        .applyInPandas(_make_local_topk(k), out_schema)
    )
    return reduce_tables(local)


def random_projection_reduce(
    df: SparkDF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
    seed: int = 42,
) -> SparkDF:
    """Johnson-Lindenstrauss dimensionality reduction →
    ``(id, reduced array<double>)``.

    ``reduced_j = (vec · g_j) / sqrt(out_dim)`` with ``g_j`` the
    deterministic Gaussian directions of :func:`make_planes` (same seed
    convention as SRP — a pipeline can bucket with ``srp_topk`` and
    reduce with this using one shared plane family). The JL lemma keeps
    pairwise distances within ``1 ± ε`` for ``out_dim = O(log n / ε²)``
    — the standard pre-ANN cut that shrinks the vectors a brute-force or
    IVF pass must touch by ``in_dim / out_dim``.

    Row-local Catalyst expressions only (the projection constants inline
    into the plan; each output is one ``zip_with``+``aggregate`` fold in
    whole-stage codegen — zero shuffle, zero Python). Components round to
    6 decimals: the fold is a sequential left-to-right sum, so an
    external auditor (DuckDB ``list_dot_product``) reproduces them
    exactly. Built as one ``F.expr`` string per output dim — ~16 py4j
    calls instead of ~1000 for nested Column construction.
    """
    if out_dim < 1 or in_dim < 1:
        raise ValueError(f"dims must be >= 1, got in={in_dim} out={out_dim}")
    planes = make_planes(in_dim, n_planes=out_dim, seed=seed)
    scale = 1.0 / float(out_dim) ** 0.5
    comps = []
    for g in planes:
        consts = ", ".join(f"{v!r}d" for v in g)
        comps.append(
            f"round(aggregate(zip_with(transform({vec_col}, x -> cast(x as double)), "
            f"array({consts}), (x, y) -> x * y), 0d, (a, x) -> a + x) "
            f"* {scale!r}d, 6)"
        )
    out = F.expr(f"array({', '.join(comps)})")
    return df.select(F.col(id_col).alias("id"), out.alias("reduced"))


def pca_train(
    df: SparkDF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 32,
    train_on: "SparkDF | float | None" = None,
    max_train: int = 200_000,
) -> "tuple[list[list[float]], list[float]]":
    """Train a PCA projection for embedding columns → ``(components,
    mean)`` — the "reduce, then quantize" axis of the codec matrix
    (FAISS's ``PCARx`` pre-transform): project 64-dim vectors to the
    top ``out_dim`` principal directions, then hand the smaller
    vectors to the UNCHANGED SQ/PQ builders for multiplicative
    compression (PCA32 + SQ8 is 16× against raw float64 at far less
    loss than PQ alone when the tail dimensions are mostly noise).

    Placement mirrors :func:`pq.opq_train`: the eigendecomposition
    needs ~10⁵ vectors, not the corpus — the deterministic
    ``resolve_train`` sample collects to the driver (capped,
    sized error past ``max_train``), one covariance ``eigh`` (exact
    symmetric solver, deterministic), eigenvectors ordered by
    DESCENDING eigenvalue with ties by index, each component's sign
    fixed so its largest-magnitude entry is positive (eigenvectors are
    sign-ambiguous; the convention makes retrains reproducible).
    Corpus-side application is :func:`project_vectors` — one Arrow
    matmul over the scan; queries project driver-side with
    :func:`project_query`. The ``eigh`` is a declared non-SQL
    boundary (the OPQ SVD rule) — invariants are pinned in pytest.
    """
    import numpy as np

    from ons_utils_spark.operators.semantic import resolve_train

    if not 1 <= out_dim <= dim:
        raise ValueError(
            f"out_dim must be in [1, dim={dim}] (got {out_dim})"
        )
    sample = resolve_train(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        train_on, "id",
    )
    rows = sample.orderBy("id").limit(int(max_train) + 1).collect()
    if len(rows) > max_train:
        raise ValueError(
            f"PCA training slice exceeds max_train={max_train} rows — "
            "principal directions need ~1e5 vectors, not the corpus; "
            "pass a smaller train_on fraction"
        )
    if len(rows) < 2:
        raise ValueError(
            f"PCA training slice has {len(rows)} rows — need >= 2"
        )
    bad = [r["id"] for r in rows if r["v"] is None or len(r["v"]) != dim
           or any(x is None for x in r["v"])]
    if bad:
        raise ValueError(
            f"{len(bad)} training vector(s) are NULL, hold NULL "
            f"elements, or are not {dim}-dim (first id: {bad[0]!r})"
        )
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    mean = X.mean(axis=0)
    C = np.cov(X - mean, rowvar=False, bias=False)
    evals, evecs = np.linalg.eigh(C)
    order = np.argsort(-evals, kind="stable")[:out_dim]
    W = evecs[:, order].T  # (out_dim, dim)
    for j in range(W.shape[0]):
        i = int(np.abs(W[j]).argmax())
        if W[j, i] < 0:
            W[j] = -W[j]
    return (
        [[float(x) for x in row] for row in W],
        [float(x) for x in mean],
    )


def project_vectors(
    df: SparkDF,
    vec_col: str,
    components: "Sequence[Sequence[float]]",
    mean: "Sequence[float] | None" = None,
    out_col: "str | None" = None,
) -> SparkDF:
    """Apply a linear projection to an embedding column — ``y =
    W·(x − mean)`` per row (:func:`pca_train`'s corpus half; the
    rectangular sibling of :func:`pq.rotate_vectors`). One
    Arrow-batched matmul over the scan: row-local, shuffle-free,
    map-only at any corpus size. NULL vectors/elements and
    wrong-dimension rows raise with the offending count."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, DoubleType, StructField, StructType,
    )

    W = np.asarray(components, dtype=np.float64)
    if W.ndim != 2:
        raise ValueError(f"components must be 2-D (got ndim {W.ndim})")
    dim = W.shape[1]
    mu = (
        np.zeros(dim) if mean is None
        else np.asarray(list(mean), dtype=np.float64)
    )
    if mu.shape[0] != dim:
        raise ValueError(
            f"mean dim {mu.shape[0]} != components input dim {dim}"
        )
    target = out_col or vec_col
    fields = [
        StructField(f.name, f.dataType) for f in df.schema.fields
        if f.name != target
    ]
    fields.append(StructField(target, ArrayType(DoubleType())))
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
                    f"non-{dim}-dim {vec_col!r} — project_vectors "
                    "cannot transform them; fix upstream"
                )
            Y = (np.asarray(vals, dtype=np.float64) - mu) @ W.T
            data = {n: pdf[n] for n in names if n != target}
            data[target] = pd.Series(list(Y), index=pdf.index)
            yield pd.DataFrame(data)

    return df.mapInPandas(run, schema)


def project_query(
    q: "Sequence[float]",
    components: "Sequence[Sequence[float]]",
    mean: "Sequence[float] | None" = None,
) -> "list[float]":
    """Project one query vector with the corpus's trained PCA —
    driver-side (queries are single rows)."""
    import numpy as np

    W = np.asarray(components, dtype=np.float64)
    v = np.asarray(list(q), dtype=np.float64)
    if v.shape[0] != W.shape[1]:
        raise ValueError(
            f"query dim {v.shape[0]} != components input dim "
            f"{W.shape[1]}"
        )
    mu = (
        np.zeros(W.shape[1]) if mean is None
        else np.asarray(list(mean), dtype=np.float64)
    )
    return [float(x) for x in W @ (v - mu)]
