"""Streaming corpus ingest with near-duplicate rejection.

The streaming twin of the incremental dedup path (`operators/dedup.py
minhash_lsh_join` — the batch form is oracle-checked as
``q_dedup_incremental``): documents arrive on a stream; every micro-batch
is deduplicated against the PERSISTED MinHash index of the already-accepted
corpus, survivors are appended to the corpus sink, and their signatures are
appended to the index — so later batches also dedup against earlier
batches without ever re-shingling the corpus.

At 100 TB: per-trigger cost is O(batch) shingling + one band-bucket join
against the stored index (which a real deployment keeps bucketed by
``band_hash`` — `sources/write.py::write_bucketed_table`). The corpus
itself is never re-read. ``foreachBatch`` gives at-least-once semantics on
retry; the plain-parquet appends here are therefore NOT exactly-once under
mid-batch crashes — production sinks should be an ACID table format
(Delta/Iceberg) where the append + index update commit atomically, as the
module-level caveat in `sources/write.py::merge_overwrite` already notes.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame as SparkDF, functions as F

from ons_utils_spark.operators.dedup import minhash_index, minhash_lsh_join


def dedup_ingest_batch(
    batch: SparkDF,
    index_path: str,
    out_path: str,
    id_col: str = "id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    intra_batch: bool = True,
    update_index: bool = True,
) -> int:
    """Process ONE batch of documents: reject near-dups, append survivors.

    Steps: (1) compute the batch's ``minhash_index`` ONCE (the dominant
    per-trigger cost — shingling + 64 hash lanes — is paid a single time
    and reused by every later step); (2) optional within-batch dedup
    (keep the smallest id of each near-dup pair); (3) LSH join against
    the stored index — or bootstrap, if ``index_path`` doesn't exist yet,
    by treating the corpus as empty; (4) append survivors to ``out_path``
    and (when ``update_index``) their already-computed index rows to
    ``index_path``. Returns the survivor count.

    Shared by the streaming ``foreachBatch`` hook and by plain batch
    ingest jobs — the logic is identical, which is the point of
    foreachBatch-style incremental design.
    """
    from pyspark.errors import AnalysisException

    spark = batch.sparkSession
    batch = batch.select(id_col, text_col)

    # One signature computation per trigger; eager checkpoint so neither
    # the stream source nor the shingle pipeline re-runs per consumer.
    batch_index = (
        minhash_index(
            batch, id_col, text_col, n=n, num_hashes=num_hashes, seed=seed
        )
        .localCheckpoint(eager=True)
    )

    kept_index = batch_index
    if intra_batch:
        from ons_utils_spark.operators.dedup import minhash_lsh_pairs

        self_pairs = minhash_lsh_pairs(
            index=kept_index, n=n, num_hashes=num_hashes,
            bands=bands, threshold=threshold, seed=seed,
        )
        losers = self_pairs.select(
            F.greatest("id_a", "id_b").alias("id")
        ).distinct()
        kept_index = kept_index.join(losers, "id", "left_anti")

    try:
        index = spark.read.parquet(index_path)
    except AnalysisException:
        # First ever batch: no corpus index yet. Nothing to join against;
        # the survivors' index rows below CREATE the index.
        index = None
    if index is not None:
        pairs = minhash_lsh_join(
            left_index=kept_index, n=n,
            num_hashes=num_hashes, bands=bands, threshold=threshold,
            seed=seed, right_index=index,
        )
        dup_ids = pairs.select(F.col("id_left").alias("id")).distinct()
        kept_index = kept_index.join(dup_ids, "id", "left_anti")

    surviving_index = kept_index.localCheckpoint(eager=True)
    # Rejected = sketchable docs whose index row was filtered away. Docs
    # too short to shingle have no index row at all — they can never LSH-
    # match anything, so they pass through as survivors (and stay
    # unindexed, exactly as minhash_index treats them in batch mode).
    rejected = batch_index.join(
        surviving_index.select("id"), "id", "left_anti"
    ).select(F.col("id").alias(id_col))
    # Pin survivors: the write AND the returned count both consume it, and
    # without the checkpoint each would re-read the raw stream source.
    survivors = batch.join(rejected, id_col, "left_anti").localCheckpoint(
        eager=True
    )

    survivors.write.mode("append").parquet(out_path)
    if update_index:
        surviving_index.write.mode("append").parquet(index_path)
    return survivors.count()


def dedup_ingest_writer(
    stream_df: SparkDF,
    index_path: str,
    out_path: str,
    checkpoint_dir: Optional[str] = None,
    **kwargs,
):
    """``writeStream`` writer running :func:`dedup_ingest_batch` per trigger.

    Start it with whatever trigger fits the deployment, e.g.::

        q = dedup_ingest_writer(stream, idx, out, checkpoint_dir=ckpt) \\
                .trigger(availableNow=True).start()
        q.awaitTermination()

    The checkpoint directory gives exactly-once BATCH TRACKING (a batch is
    not reprocessed after restart); see the module docstring for the
    sink-side atomicity caveat.
    """

    def process(batch: SparkDF, batch_id: int) -> None:
        dedup_ingest_batch(batch, index_path, out_path, **kwargs)

    writer = stream_df.writeStream.foreachBatch(process)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def sketch_ingest_writer(
    stream_df,
    key_col: str,
    sketch_path: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 1024,
):
    """Maintain a Count-Min frequency sketch over a stream.

    ``foreachBatch`` writes each micro-batch's cell deltas into its OWN
    ``batch_id`` partition of the store via dynamic-partition overwrite
    (``operators/sketches.py::sketch_append_batch``): no
    read-modify-write, a crash between batches loses nothing, and a
    checkpointed REPLAY of a batch replaces its partition instead of
    double-counting — the idempotent-sink recipe that upgrades
    foreachBatch's at-least-once to effectively exactly-once. Read the
    current sketch at any time with ``sketches.load_sketch`` — streaming
    ingestion and batch analytics share one representation because the
    sketch is mergeable.
    """
    from ons_utils_spark.operators.sketches import sketch_append_batch

    def process(batch, batch_id: int) -> None:
        sketch_append_batch(
            batch, key_col, sketch_path, depth, width, batch_id=batch_id
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )


def bloom_ingest_writer(
    stream_df,
    text_col: str,
    bloom_path: str,
    checkpoint_dir: str,
    n: int = 2,
    m_bits: int = 1 << 20,
    k: int = 4,
):
    """Maintain a Bloom filter of a streaming reference set — e.g. keep
    the training-set n-gram filter current as shards land, so every
    ingest can ``decontaminate_bloom(..., filter_words=load_bloom(...))``
    without ever re-shingling the accumulated reference.

    Same durable recipe as :func:`sketch_ingest_writer`: ``foreachBatch``
    writes each micro-batch's ``(word, bits)`` deltas into its own
    ``batch_id`` partition (``operators/corpus.py::bloom_append_batch``),
    a replay overwrites exactly its partition, and
    ``corpus.load_bloom`` bit-ORs the store back into one filter. Bloom
    merge is idempotent (OR), so even the at-least-once path without the
    partition overwrite could not over-count — the layout is kept
    identical to the Count-Min store for operational symmetry.
    """
    from ons_utils_spark.operators.corpus import bloom_append_batch

    def process(batch, batch_id: int) -> None:
        bloom_append_batch(
            batch, text_col, bloom_path, n=n, m_bits=m_bits, k=k,
            batch_id=batch_id,
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )


def gram_index_ingest_writer(
    stream_df,
    id_col: str,
    text_col: str,
    store_path: str,
    checkpoint_dir: str,
    n: int = 8,
):
    """Maintain the exact-substring-dedup gram index over a stream —
    the streaming half of ``operators/corpus.py::
    self_dedup_spans_incremental``: as document shards land, each
    micro-batch's ``(g, keeper)`` deltas append to the durable index so
    every later ingest can span-dedup against EVERYTHING seen so far
    without re-shingling the corpus.

    Same durable recipe as :func:`sketch_ingest_writer` /
    :func:`bloom_ingest_writer` (the shared layout in
    ``sources/store.py``): each batch writes its own ``batch_id``
    partition, replays overwrite exactly their partition, and
    ``corpus.load_gram_index`` min-merges on read — min() is the merge,
    so like the Bloom OR even a plain double-append could not corrupt
    the keeper, and the partition overwrite keeps the store tidy under
    at-least-once retries anyway.
    """
    from ons_utils_spark.operators.corpus import gram_index_append_batch

    def process(batch, batch_id: int) -> None:
        gram_index_append_batch(
            batch, id_col, text_col, store_path, n=n, batch_id=batch_id
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )


def kmv_ingest_writer(
    stream_df,
    key_col: str,
    store_path: str,
    checkpoint_dir: str,
    k: int = 1024,
):
    """Maintain a bottom-k (KMV) distinct-count sketch over a stream —
    e.g. a live "distinct users/URLs seen" estimator that batch
    analytics read with ``sketches.load_kmv``/``kmv_distinct`` while
    ingestion keeps running.

    Same durable recipe as the other three stores
    (:func:`sketch_ingest_writer` / :func:`bloom_ingest_writer` /
    :func:`gram_index_ingest_writer`; shared layout in
    ``sources/store.py``): each micro-batch's bottom-k delta writes its
    own ``batch_id`` partition (``operators/sketches.py::
    kmv_append_batch``), a checkpointed replay overwrites exactly its
    partition, and the loader re-folds the union on read. Bottom-k
    union is mergeable AND idempotent (re-folding identical hash rows
    changes nothing), so like the Bloom OR even a plain double-append
    could not corrupt the estimate — the partition overwrite keeps the
    store tidy under at-least-once retries anyway.
    """
    from ons_utils_spark.operators.sketches import kmv_append_batch

    def process(batch, batch_id: int) -> None:
        kmv_append_batch(batch, key_col, store_path, k=k, batch_id=batch_id)

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )


def bm25_index_ingest_writer(
    stream_df,
    id_col: str,
    text_col: str,
    store_path: str,
    checkpoint_dir: str,
):
    """Maintain an incremental BM25 inverted index over a document
    stream — the retrieval-serving half of ``operators/text.py``'s
    index family: as document shards land, each micro-batch's postings
    + stats deltas append to the durable store, and batch retrieval
    (``load_bm25_index_incremental`` → ``bm25_topk_indexed``) serves
    query profiles against EVERYTHING ingested so far without ever
    re-tokenizing the corpus.

    Same durable recipe as the other stores (shared layout in
    ``sources/store.py``): each micro-batch writes its own ``batch_id``
    partition in BOTH delta stores (``text.bm25_index_append``), a
    checkpointed replay overwrites exactly its partitions, and the
    loader folds on read (postings union — disjoint by the new-docs
    contract; stats sum). Unlike the min/OR-merged stores the stats
    half is SUM-merged, so the Count-Min caveats apply: documents must
    be new, and compaction only while the writer is stopped.
    """
    from ons_utils_spark.operators.text import bm25_index_append

    def process(batch, batch_id: int) -> None:
        bm25_index_append(
            batch, id_col, text_col, store_path, batch_id=batch_id
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )


def ivf_pq_ingest_writer(
    stream_df,
    store_path: str,
    *,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
):
    """Maintain a persisted IVF×PQ serving table over a vector stream —
    the ANN twin of :func:`bm25_index_ingest_writer`: as embedding
    shards land, each micro-batch is encoded with the STORED index
    (``operators/pq.py::ivf_pq_encode`` — no retraining, every
    already-served code stays valid) and appended as its own
    ``batch_id`` partition inside the live coded generation
    (``ivf_pq_table_append``). ``load_ivf_pq_table`` →
    ``ivf_pq_query``/``ivf_pq_batch_topk`` then serve everything
    ingested so far, bit-identical to a one-shot build over the full
    corpus.

    The store must already exist (``save_ivf_pq_table`` — the index is
    trained once, offline, on a representative sample; that is the
    FAISS operating model, and what keeps streaming maintenance a pure
    one-scan encode). A checkpointed replay statically overwrites
    exactly its own ``batch_id`` partition, making at-least-once
    delivery effectively exactly-once — which is why
    ``checkpoint_dir`` is REQUIRED (like the BM25 twin): without a
    checkpoint a restarted source re-numbers batches from 0, and the
    batch_id overwrites would land different row sets than the first
    run's partitions, silently duplicating or dropping vectors. Empty
    micro-batches truncate their own partition (the append's
    replay-truncate rule) instead of failing the query.
    """
    from ons_utils_spark.operators.pq import PQ_CODEC

    return _coded_table_ingest_writer(
        PQ_CODEC, stream_df, store_path, checkpoint_dir, id_col, vec_col,
        method,
    )


def ivf_sq_ingest_writer(
    stream_df,
    store_path: str,
    *,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
):
    """:func:`ivf_pq_ingest_writer` for an IVF×SQ table (``similarity.
    SQ_CODEC``)."""
    from ons_utils_spark.operators.similarity import SQ_CODEC

    return _coded_table_ingest_writer(
        SQ_CODEC, stream_df, store_path, checkpoint_dir, id_col, vec_col,
        method,
    )


def _coded_table_ingest_writer(
    codec, stream_df, store_path, checkpoint_dir, id_col, vec_col, method
):
    """The body of both coded-table ingest writers: each micro-batch is
    one ``sources/store.py::coded_table_append`` under its batch id."""
    from ons_utils_spark.sources.store import coded_table_append

    def process(batch, batch_id: int) -> None:
        coded_table_append(
            codec, batch, store_path, id_col=id_col, vec_col=vec_col,
            batch_id=batch_id, method=method,
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )


def hybrid_ingest_writer(
    stream_df,
    bm25_store_path: str,
    ivf_pq_store_path: str,
    *,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    method: str = "auto",
):
    """Maintain BOTH retrieval stores from ONE document stream — each
    micro-batch carries text AND an embedding per document, and one
    ``foreachBatch`` hook appends its postings/stats deltas to the
    incremental BM25 index (``text.bm25_index_append``) and its
    stored-index-encoded codes to the ANN serving table
    (``sources/store.py::coded_table_append``).
    ``retrieval.hybrid_batch_topk`` then serves fused lexical+ANN
    retrieval over everything ingested so far — the end-to-end
    streaming story for hybrid corpus curation.

    Exactly-once per store: both appends key their writes by the SAME
    micro-batch id, and each is individually replay-idempotent (static
    partition overwrite), so a retry that crashed BETWEEN the two
    appends simply re-runs both — the BM25 halves repair via their
    partition overwrites, the coded batch partition likewise. The two
    stores are never transactionally coupled, but the lag is
    OBSERVABLE: ``retrieval.check_hybrid_store_sync`` compares the two
    ``max(batch_id)`` marks and warns at load/serve time — a reader
    between the two appends of a fresh batch can see the batch
    lexically but not in ANN (or vice versa) for one micro-batch
    interval, which is acceptable for retrieval serving and
    self-healing on the next trigger. The ANN store must exist
    (``save_ivf_pq_table`` OR ``save_sq_table`` — index trained
    offline, the FAISS model; ``retrieval.ann_store_codec`` reads the
    codec from the store meta, so the maintainer serves EITHER family)
    and the BM25 store is created by its first append. The per-store
    contracts apply: new documents only, checkpoint REQUIRED.
    """
    from ons_utils_spark.operators.retrieval import ann_store_codec
    from ons_utils_spark.sources.store import coded_table_append

    codec = ann_store_codec(stream_df.sparkSession, ivf_pq_store_path)

    def process(batch, batch_id: int) -> None:
        from ons_utils_spark.operators.text import bm25_index_append

        # The batch feeds two jobs (tokenize+aggregate, encode+write);
        # materialize once so a source re-read cannot diverge between
        # the two stores' views of the same batch_id.
        batch = batch.localCheckpoint(eager=True)
        bm25_index_append(
            batch, id_col, text_col, bm25_store_path, batch_id=batch_id
        )
        coded_table_append(
            codec, batch, ivf_pq_store_path, id_col=id_col,
            vec_col=vec_col, batch_id=batch_id, method=method,
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )


def hybrid_cdc_ingest_writer(
    stream_df,
    bm25_store_path: str,
    ann_store_path: str,
    *,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    op_col: str = "op",
    method: str = "auto",
):
    """Maintain BOTH retrieval stores from ONE CDC change stream — the
    upsert-aware evolution of :func:`hybrid_ingest_writer`: each
    micro-batch row carries an op code (``I``/``U``/``D``,
    ``operators/cdc.py``), and one ``foreachBatch`` hook applies the
    batch to the BM25 index (``bm25_index_apply_cdc``) and the ANN
    serving table (``ann_table_apply_cdc`` — codec family auto-detected)
    under the even/odd batch split: logical micro-batch ``B`` owns
    tombstone partitions ``2B`` and insert partitions ``2B+1`` in every
    store, so deletes apply strictly before inserts (updates work), and
    a checkpointed replay statically overwrites exactly those
    partitions in all four delta stores — at-least-once delivery stays
    effectively exactly-once end to end.

    The per-store contracts compose unchanged: D/U ids must be live in
    the BM25 index (stats honesty), I ids must be new everywhere, the
    ANN store must exist (index trained offline), checkpoint REQUIRED.
    Cross-store lag is one trigger at most and observable via
    ``retrieval.check_hybrid_store_sync`` (both stores advance their
    ``max(batch_id)`` marks in lockstep under the split)."""

    def process(batch, batch_id: int) -> None:
        from ons_utils_spark.operators.cdc import (
            ann_table_apply_cdc, bm25_index_apply_cdc,
        )

        # One materialization feeds both stores' views of the batch —
        # a source re-read must not diverge between them.
        batch = batch.localCheckpoint(eager=True)
        bm25_index_apply_cdc(
            batch, bm25_store_path, id_col, text_col,
            batch_id=batch_id, op_col=op_col,
        )
        ann_table_apply_cdc(
            batch, ann_store_path, id_col, vec_col,
            batch_id=batch_id, op_col=op_col, method=method,
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )


def rag_ingest_writer(
    stream_df,
    bm25_store_path: str,
    ann_store_path: str,
    *,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
    embed_dim: int = 16,
    chunk_id_factor: int = 1000,
    method: str = "auto",
):
    """The streaming twin of ``q_rag_ingest_retrieve``: RAW documents
    in, both retrieval stores maintained at CHUNK granularity. Each
    micro-batch token-window-chunks its documents
    (``text.chunk_documents``), embeds every chunk with the hashed
    bag-of-tokens featurizer (``text.hash_embed`` — swap in a model
    UDF for quality; the writer only needs SOME deterministic
    ``array<double>``), and appends the chunks to the incremental BM25
    index and the ANN serving table (codec family auto-detected, the
    ``hybrid_ingest_writer`` recipe) under one global chunk key
    ``doc_id·chunk_id_factor + chunk_id``.

    Exactly-once composes unchanged from the per-store appends: the
    chunk/embed step is a deterministic row-local function of the
    batch, both appends key on the SAME micro-batch id, and each is
    replay-idempotent — a retry re-derives identical chunks and
    statically overwrites its two partitions. ``chunk_id_factor``
    bounds the per-document chunk count the key space can hold; the
    writer CHECKS each batch's max chunk_id against it and raises
    (rather than silently aliasing another document's chunks, which
    the BM25 store cannot tell apart afterwards — both documents'
    postings would serve under one id).
    The ANN store must exist (index trained offline on a base corpus
    of chunks); the BM25 store is created by its first append;
    checkpoint REQUIRED. Cross-store lag is one trigger at most and
    observable via ``retrieval.check_hybrid_store_sync``.
    """
    from pyspark.sql import functions as F

    from ons_utils_spark.operators.retrieval import ann_store_codec
    from ons_utils_spark.sources.store import coded_table_append

    codec = ann_store_codec(stream_df.sparkSession, ann_store_path)

    def process(batch, batch_id: int) -> None:
        from ons_utils_spark.operators.text import (
            bm25_index_append, chunk_documents, hash_embed,
        )

        chunks = hash_embed(
            chunk_documents(
                batch, id_col, text_col,
                chunk_tokens=chunk_tokens, overlap=overlap,
            ).select(
                (F.col("id") * chunk_id_factor + F.col("chunk_id"))
                .cast("long").alias("__chunk_key"),
                "chunk_id",
                "chunk_text",
            ),
            "chunk_text", dim=embed_dim,
        )
        # One materialization feeds both stores' views of the batch —
        # a source re-read must not diverge between them, and the
        # chunk+embed work runs once, not once per store.
        chunks = chunks.localCheckpoint(eager=True)
        top = chunks.agg(F.max("chunk_id").alias("m")).collect()[0]["m"]
        if top is not None and top >= chunk_id_factor:
            raise ValueError(
                f"a document in batch {batch_id} produced chunk_id "
                f"{top} >= chunk_id_factor ({chunk_id_factor}) — its "
                "chunk keys would alias another document's; raise "
                "chunk_id_factor (or chunk_tokens) for this corpus"
            )
        chunks = chunks.drop("chunk_id")
        bm25_index_append(
            chunks, "__chunk_key", "chunk_text", bm25_store_path,
            batch_id=batch_id,
        )
        coded_table_append(
            codec, chunks, ann_store_path, id_col="__chunk_key",
            vec_col="embedding", batch_id=batch_id, method=method,
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
