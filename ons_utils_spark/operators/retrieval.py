"""Hybrid retrieval: reciprocal-rank fusion over ranked candidate
lists from heterogeneous retrievers (lexical BM25 + ANN embeddings).

LLM-data-pipeline extension (no reference analogue — the reference's
surface stops at relational utilities, SURVEY.md §2). RRF (Cormack,
Clarke & Büttcher, SIGIR 2009): fuse rankings by summing
``1 / (k0 + rank)`` per system — rank-only fusion, so incomparable
score scales (a BM25 log-idf sum vs an ADC squared distance) need no
calibration, and a document strong in EITHER list surfaces.

Scale story: fusion is k-row work. Each input is already a per-query
top-k list (``topk × n_queries`` rows — the retrievers did the
corpus-scale work behind their indexes), so the rank windows are over
k-row partitions, the outer join is between k-row tables, and the
whole fused plan is driver-trivial no matter the corpus size. The
expensive halves (`bm25_batch_topk_indexed`, `ivf_pq_batch_topk`)
each scan only their own pruned store.

Determinism: ranks order by (score, id) — bit-reproducible given the
retrievers' deterministic scores; the RRF sum folds the systems in
caller order as a fixed ``coalesce(c0,0) + coalesce(c1,0) + …``
expression (no groupBy re-association), so the fused score is
bit-reproducible too and the DuckDB oracle replays it exactly.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import DataFrame as SparkDF, Window, functions as F


def rrf_fuse(
    ranked_lists: Sequence[Tuple[SparkDF, str, bool]],
    query_id_col: str = "query_id",
    id_col: str = "id",
    k0: int = 60,
    topk: int = 10,
    round_dp: int = 6,
    weights: "Sequence[float] | None" = None,
) -> SparkDF:
    """Reciprocal-rank fusion of per-query ranked candidate lists →
    ``(query_id, id, rrf, rank)``.

    ``ranked_lists`` is a sequence of ``(df, order_col, ascending)``:
    each ``df`` holds per-query candidates (typically a retriever's
    top-k output) and is ranked HERE by ``(order_col [asc|desc],
    id asc)`` — recomputing the rank from the score column keeps the
    fusion independent of whether a retriever happens to expose its
    own rank column, and pins the tie-break. A candidate absent from
    a system's list contributes 0 from that system (standard RRF over
    truncated lists). ``k0`` is RRF's smoothing constant (60 in the
    paper; it damps the head so one system's #1 cannot drown the
    other's consensus).

    The systems' contributions add in CALLER ORDER as one fixed
    expression — at two or three systems a full outer join per system
    beats a union + groupBy sum AND keeps the float addition order
    deterministic (a groupBy sum re-associates per partitioning).

    ``weights`` (one per system, default all 1.0) is weighted RRF:
    system ``i`` contributes ``w_i / (k0 + rank)`` — the standard
    lever when one retriever is trusted more (e.g. upweight lexical
    for code corpora). ``w = 1.0`` is bit-identical to unweighted.
    """
    if not ranked_lists:
        raise ValueError("ranked_lists is empty — nothing to fuse")
    if weights is None:
        weights = [1.0] * len(ranked_lists)
    if len(weights) != len(ranked_lists):
        raise ValueError(
            f"weights has {len(weights)} entries for "
            f"{len(ranked_lists)} ranked lists — one weight per system"
        )
    fused = None
    for i, (df, order_col, ascending) in enumerate(ranked_lists):
        order = (
            F.col(order_col).asc() if ascending else F.col(order_col).desc()
        )
        w = Window.partitionBy(query_id_col).orderBy(
            order, F.col(id_col).asc()
        )
        contrib = (
            df.select(query_id_col, id_col, order_col)
            .withColumn("__r", F.row_number().over(w))
            .select(
                query_id_col,
                id_col,
                (
                    F.lit(float(weights[i]))
                    / (F.lit(int(k0)) + F.col("__r"))
                ).alias(f"__c{i}"),
            )
        )
        fused = (
            contrib
            if fused is None
            else fused.join(contrib, [query_id_col, id_col], "full_outer")
        )
    rrf = None
    for i in range(len(ranked_lists)):
        term = F.coalesce(F.col(f"__c{i}"), F.lit(0.0))
        rrf = term if rrf is None else rrf + term
    scored = fused.select(
        query_id_col, id_col, F.round(rrf, round_dp).alias("rrf")
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("rrf").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= topk)
        .select(
            query_id_col, id_col, "rrf",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ann_store_family(spark, store_path: str) -> str:
    """Which codec family a persisted ANN serving store belongs to —
    ``"pq"`` (:func:`pq.save_ivf_pq_table`) or ``"sq"``
    (:func:`similarity.save_sq_table`) — read from the index meta's
    schema in its parquet footer on the driver (no Spark job, no data
    read): the PQ meta carries the subspace geometry (``sub_d``), the SQ
    meta the grid dimension (``dim``). Lets the hybrid maintainer and
    the skew witness serve either family without the caller naming the
    codec."""
    from ons_utils_spark.sources.store import footer_schema

    cols = footer_schema(f"{store_path}/index/meta").fieldNames()
    if "sub_d" in cols:
        return "pq"
    if "dim" in cols:
        return "sq"
    raise ValueError(
        f"{store_path!r} is not an IVF×PQ or IVF×SQ serving store "
        f"(index meta columns: {cols})"
    )


def ann_store_codec(spark, store_path: str):
    """The ``sources/store.py::CodedTableCodec`` of a persisted ANN
    serving store — :data:`pq.PQ_CODEC` or :data:`similarity.SQ_CODEC`,
    as :func:`ann_store_family` reads it from the index meta footer (no
    Spark job). Every maintainer and loader that serves either family
    passes this value to the ``coded_table_*`` lifecycle."""
    from ons_utils_spark.operators.pq import PQ_CODEC
    from ons_utils_spark.operators.similarity import SQ_CODEC

    codecs = {c.family: c for c in (PQ_CODEC, SQ_CODEC)}
    return codecs[ann_store_family(spark, store_path)]


def check_hybrid_store_sync(
    spark, bm25_store_path: str, ivf_pq_store_path: str,
) -> "Tuple[int | None, int | None]":
    """Compare the two hybrid stores' ``max(batch_id)`` high-water
    marks and WARN (never refuse) on divergence — making
    ``hybrid_ingest_writer``'s documented one-trigger read skew
    OBSERVABLE instead of silent: the maintainer appends both stores
    under the SAME micro-batch id, so a lag of one batch is legal
    between the two appends of a live trigger, but a maintainer that
    died permanently between them leaves one store ahead FOREVER, and
    nothing else would ever say so.

    The BM25 mark is its stats partitions (an append and a delete each
    write one). The ANN mark is ``sources/store.py::
    coded_table_max_batch_id`` — its live generation's coded AND
    tombstone partitions, since an ANN delete writes only tombstones.

    Returns ``(bm25_max, ann_max)`` (``None`` for a store with no
    batch partitions yet). Cost: partition listings and the index meta
    read on the driver — no Spark job, no data read. Skew is legal, so
    serving proceeds; the warning tells the operator to restart (or
    repair) the maintainer, whose replay of the missing batch heals the
    lag. The ANN store may be either codec family
    (:func:`ann_store_codec`), and the warning names it.
    """
    import warnings

    from ons_utils_spark.sources.store import (
        coded_table_max_batch_id, max_batch_id,
    )

    codec = ann_store_codec(spark, ivf_pq_store_path)
    bm25_max = max_batch_id(f"{bm25_store_path}/stats")
    ann_max = coded_table_max_batch_id(codec, spark, ivf_pq_store_path)
    if bm25_max != ann_max:
        warnings.warn(
            f"hybrid store skew: BM25 index at {bm25_store_path!r} has "
            f"max batch_id {bm25_max} but the {codec.label} table at "
            f"{ivf_pq_store_path!r} has {ann_max} — legal for one "
            "trigger interval while the maintainer runs, but if it is "
            "stopped this lag is permanent; restarting it replays the "
            "missing batch and heals the stores",
            stacklevel=2,
        )
    return bm25_max, ann_max


def load_hybrid_stores(spark, bm25_store_path: str, ivf_pq_store_path: str):
    """Load BOTH hybrid serving stores for :func:`hybrid_batch_topk` →
    ``(postings, stats, coded, index)`` — the incremental BM25 fold
    (manifest-checked) plus the ANN serving table of EITHER codec
    family (:func:`ann_store_codec`; the returned index carries its
    codec, which routes :func:`hybrid_batch_topk`'s ANN half) — after
    running :func:`check_hybrid_store_sync`, so a permanently-skewed
    pair warns at the moment someone starts serving from it."""
    from ons_utils_spark.operators.text import load_bm25_index_incremental
    from ons_utils_spark.sources.store import coded_table_load

    check_hybrid_store_sync(spark, bm25_store_path, ivf_pq_store_path)
    postings, stats = load_bm25_index_incremental(spark, bm25_store_path)
    coded, index = coded_table_load(
        ann_store_codec(spark, ivf_pq_store_path), spark, ivf_pq_store_path
    )
    return postings, stats, coded, index


def hybrid_batch_topk(
    postings: SparkDF,
    stats: SparkDF,
    coded: SparkDF,
    index,
    queries: SparkDF,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    vec_col: str = "embedding",
    retriever_topk: int = 20,
    n_probe: int = 2,
    topk: int = 10,
    k0: int = 60,
    round_dp: int = 6,
    k1: float = 1.2,
    b: float = 0.75,
    weights: "Tuple[float, float] | None" = None,
) -> SparkDF:
    """Hybrid lexical + ANN retrieval for a whole query TABLE, fused by
    RRF → ``(query_id, id, rrf, rank)`` — both serving stores in one
    query: each row of ``queries`` carries a term profile
    (``terms_col``) AND an embedding (``vec_col``); the BM25 inverted
    index answers the lexical half (`bm25_batch_topk_indexed` — pruned
    postings read, no corpus scan) and the ANN serving table the ANN
    half. ``index.codec.batch_topk`` scores it: `ivf_pq_batch_topk`
    for an :class:`pq.IvfPqIndex` (union-of-probes pruned scan, one
    Arrow pass), `ivf_sq_batch_topk` for a :class:`similarity.SqIndex`
    (same shape, grid decode instead of LUTs) — RRF is rank-space, so the
    fusion is codec-agnostic by construction and the serving matrix's
    two families are interchangeable here. Each retriever returns its
    ``retriever_topk`` per query; fusion is k-row work (module
    docstring). The lexical list ranks by (bm25 desc, id), the ANN
    list by (adc_dist asc, id), and the RRF sum folds lexical-then-ANN
    — all deterministic, oracle-replayable. ``weights`` is
    ``(w_lexical, w_ann)`` for weighted RRF (see :func:`rrf_fuse`);
    ``None`` = unweighted.
    """
    from ons_utils_spark.operators.text import bm25_batch_topk_indexed

    lex = bm25_batch_topk_indexed(
        postings, stats, queries.select(query_id_col, terms_col),
        query_id_col=query_id_col, terms_col=terms_col,
        topk=retriever_topk, k1=k1, b=b, round_dp=round_dp,
    )
    if query_id_col != "query_id":
        # The BM25 batch scorers emit a fixed "query_id" output column
        # whatever the input name; realign so rrf_fuse's join keys and
        # the ANN half (which echoes the caller's name) agree.
        lex = lex.withColumnRenamed("query_id", query_id_col)
    ann = index.codec.batch_topk(
        coded, index, queries.select(query_id_col, vec_col),
        query_id_col=query_id_col, vec_col=vec_col,
        n_probe=n_probe, topk=retriever_topk,
    )
    return rrf_fuse(
        [(lex, "bm25", False), (ann, "adc_dist", True)],
        query_id_col=query_id_col, k0=k0, topk=topk, round_dp=round_dp,
        weights=weights,
    )
