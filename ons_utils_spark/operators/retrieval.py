"""Hybrid retrieval: reciprocal-rank fusion over ranked candidate
lists from heterogeneous retrievers (lexical BM25 + ANN embeddings).

LLM-data-pipeline extension (no reference analogue — the reference's
surface stops at relational utilities, SURVEY.md §2). RRF (Cormack,
Clarke & Büttcher, SIGIR 2009): fuse rankings by summing
``1 / (k0 + rank)`` per system — rank-only fusion, so incomparable
score scales (a BM25 log-idf sum vs an ADC squared distance) need no
calibration, and a document strong in EITHER list surfaces.

Scale story: fusion is k-row work behind ONE exchange. The systems'
candidate lists are tagged with their system's index, unioned, and
hash-partitioned by query id once; each system's rank, the RRF fold and
the final rank all run on that partitioning — no join between lists, no
further exchange (local work per partition, one global merge, as in
REPOSE). `hybrid_batch_topk` sends its retrievers' pre-top-k candidates
(BM25 per-term contributions, probed ANN distances) through the same
exchange. The expensive halves each scan only their own pruned store.

Determinism: ranks order by (score, id) — bit-reproducible given the
retrievers' deterministic scores; the RRF sum folds the systems in
caller order as a fixed ``coalesce(c0,0) + coalesce(c1,0) + …``
expression of per-system conditional aggregates (no groupBy sum
re-association), so the fused score is bit-reproducible too and the
DuckDB oracle replays it exactly.
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

    The lists meet in one exchange by query id (:func:`_rrf_tail`):
    a window ranks each ``(query, system)``, and each system's
    contribution is a conditional aggregate per ``(query, id)``, added
    in CALLER ORDER as one fixed expression — a deterministic float
    addition order, where a groupBy sum would re-associate.

    ``weights`` (one per system, default all 1.0) is weighted RRF:
    system ``i`` contributes ``w_i / (k0 + rank)`` — the standard
    lever when one retriever is trusted more (e.g. upweight lexical
    for code corpora). ``w = 1.0`` is bit-identical to unweighted.
    """
    if not ranked_lists:
        raise ValueError("ranked_lists is empty — nothing to fuse")
    tagged = None
    for i, (df, order_col, ascending) in enumerate(ranked_lists):
        score = F.col(order_col)
        none = F.lit(None).cast(df.schema[order_col].dataType)
        part = df.select(
            F.col(query_id_col).alias("qid"), F.col(id_col).alias("id"),
            F.lit(i).alias("__sys"),
            (score if ascending else none).alias("__asc"),
            (none if ascending else score).alias("__desc"),
        )
        tagged = part if tagged is None else tagged.union(part)
    return _rrf_tail(
        tagged.repartition("qid"), len(ranked_lists), weights, k0, topk,
        round_dp, query_id_col, id_col,
    )


def _rrf_tail(candidates, n_systems, weights, k0, topk, round_dp,
              query_id_col, id_col, system_topk=None):
    """The one fusion mechanism, over ``(qid, id, __sys, __asc,
    __desc)`` candidates already hash-partitioned by ``qid`` (a system
    fills one of the two score columns): rank each system by ``(__asc,
    __desc desc, id)``, keep rank ≤ ``system_topk`` if given, fold
    ``w_i / (k0 + rank)`` per ``(qid, id)`` in system order, round, and
    keep each query's top ``topk`` — all on the input's partitioning."""
    if weights is None:
        weights = [1.0] * n_systems
    if len(weights) != n_systems:
        raise ValueError(
            f"weights has {len(weights)} entries for "
            f"{n_systems} ranked lists — one weight per system"
        )
    w = Window.partitionBy("qid", "__sys").orderBy(
        F.col("__asc").asc(), F.col("__desc").desc(), F.col("id").asc()
    )
    ranked = candidates.withColumn("__r", F.row_number().over(w))
    if system_topk is not None:
        ranked = ranked.where(F.col("__r") <= system_topk)
    rrf = None
    for i, weight in enumerate(weights):
        term = F.coalesce(F.max(F.when(
            F.col("__sys") == i,
            F.lit(float(weight)) / (F.lit(int(k0)) + F.col("__r")),
        )), F.lit(0.0))
        rrf = term if rrf is None else rrf + term
    scored = ranked.groupBy("qid", "id").agg(
        F.round(rrf, round_dp).alias("rrf")
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("rrf").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= topk)
        .select(
            F.col("qid").alias(query_id_col), F.col("id").alias(id_col),
            "rrf", F.col("rank").cast("int").alias("rank"),
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
    from ons_utils_spark.operators.text import load_bm25_index
    from ons_utils_spark.sources.store import coded_table_load

    check_hybrid_store_sync(spark, bm25_store_path, ivf_pq_store_path)
    postings, stats = load_bm25_index(spark, bm25_store_path)
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
    index answers the lexical half (no corpus scan) and the ANN serving
    table the ANN half, scored by ``index.codec.batch_scored`` (the
    pre-top-k form of `ivf_pq_batch_topk` or `ivf_sq_batch_topk`) — RRF
    is rank-space, so the fusion is codec-agnostic by construction.

    The query table is driver-sized (the ANN contract) and collected
    once, terms lowered by Spark: terms and ids are checked on the
    driver before any other job. Both retrievers' candidates meet in
    one exchange by query id, after which the exact BM25 fold, each
    system's rank (lexical by (bm25 desc, id), ANN by (adc_dist asc,
    id), each kept to ``retriever_topk``), the lexical-then-ANN RRF
    fold and the final rank run with no further exchange
    (:func:`_rrf_tail`). Rows equal :func:`rrf_fuse` over
    `bm25_batch_topk_indexed` and the codec's standalone batch scorer.
    ``weights`` is ``(w_lexical, w_ann)`` for weighted RRF (see
    :func:`rrf_fuse`); ``None`` = unweighted.
    """
    from ons_utils_spark.operators.pq import _check_query_ids
    from ons_utils_spark.operators.text import (
        _bm25_query_contribs, _bm25_sum,
    )

    rows = queries.select(
        query_id_col, vec_col,
        F.transform(terms_col, F.lower).alias("__terms"),
    ).collect()
    qid_type = queries.schema[query_id_col].dataType
    lex = _bm25_query_contribs(
        postings, stats, [(r[0], r["__terms"]) for r in rows], qid_type,
        terms_col, k1, b,
    )
    _check_query_ids([r[0] for r in rows], query_id_col)
    ann = index.codec.batch_scored(
        coded, index, rows, qid_type, vec_col=vec_col, n_probe=n_probe
    )
    tagged = lex.withColumn("__sys", F.lit(0)).unionByName(
        ann.withColumn("__sys", F.lit(1)), allowMissingColumns=True
    )
    candidates = tagged.repartition("qid").groupBy("qid", "id", "__sys").agg(
        F.min("adc_dist").alias("__asc"),
        _bm25_sum("__c", round_dp).alias("__desc"),
    )
    return _rrf_tail(
        candidates, 2, weights, k0, topk, round_dp, query_id_col, "id",
        system_topk=retriever_topk,
    )
