"""CDC apply for the retrieval serving stores: one change feed —
insert / update / delete — maintains a BM25 index or an ANN coded
table (or both, via the streaming writer in ``streaming/ingest.py``)
exactly-once.

This is the production shape of corpus maintenance: upstream systems
emit change batches (a Debezium-style feed, a nightly diff from
``incremental.table_diff``), and the serving stores must track them
without rebuilds. The primitives already exist — replay-idempotent
appends and tombstone deletes (``text.bm25_index_append`` /
``bm25_index_delete``, ``pq.ivf_pq_table_append`` /
``ivf_pq_table_delete``, SQ twins) — CDC apply is their composition
plus one ordering trick:

**The even/odd batch split.** An UPDATE is delete-then-reinsert, and
both halves belong to the SAME change batch — but a tombstone kills
every row written at or before its own batch id, so landing both at
one id would kill the update's new version too. Logical change batch
``B`` therefore maps to tombstone batch ``2B`` and insert batch
``2B + 1``: deletes apply strictly before inserts within the batch
(the standard CDC compaction order), the update's new row (at 2B+1)
outlives its own tombstone (at 2B), batch ids stay monotone across
batches, and a checkpointed replay statically overwrites exactly its
two partitions — the appends' and deletes' existing exactly-once
guarantees compose unchanged. The split also keeps the BM25 stats
partitions collision-free (an append and a delete each own one
``stats/batch_id=`` partition, and deletes and appends must never
share one).

No reference twin — the reference has no durable stores. The BM25
apply is oracle-checked end to end (``q_bm25_cdc_upsert``: the SQL
twin rebuilds the NET corpus after the change batch and replays
indexed scoring over it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, functions as F

#: Change-feed operation codes: insert (new id), update (existing id,
#: new content), delete (existing id).
CDC_OPS = ("I", "U", "D")

#: Hard cap on the delete-id list one change batch may carry. The ids
#: are collected driver-side (they become tombstone rows and pushed-down
#: ``isin`` filters), which is fine for micro-batch-sized feeds but NOT
#: for a caller replaying a whole historical diff through one apply —
#: that used to be a documented contract; this makes it an enforced one
#: (the ``_MMR_MAX_CANDIDATES`` pattern). 1M ids ≈ tens of MB on the
#: driver — comfortably micro-batch, loudly not a full-corpus rewrite.
CDC_MAX_DELETE_IDS = 1_000_000


def cdc_batch_ids(batch_id: int) -> "tuple[int, int]":
    """Logical change batch → (tombstone batch, insert batch) under the
    even/odd split. Exposed so tests and store inspectors can name the
    physical partitions a change batch owns."""
    if batch_id is None or int(batch_id) < 0:
        raise ValueError(
            f"CDC apply requires an explicit non-negative batch_id "
            f"(got {batch_id}) — the split relies on the append order"
        )
    b = int(batch_id)
    return 2 * b, 2 * b + 1


def split_cdc_batch(
    changes: SparkDF,
    id_col: str,
    op_col: str = "op",
) -> "tuple[list, SparkDF]":
    """Validate one change batch and split it → ``(delete_ids,
    inserts)``: ids to tombstone (D and U rows — an update kills its
    old version first) and the rows to append (I and U rows, ``op_col``
    dropped). Unknown op codes and NULL ids raise; the delete-id list
    is collected driver-side under the ENFORCED ``CDC_MAX_DELETE_IDS``
    cap — an oversized historical diff gets a sized refusal telling the
    caller to chunk by batch, never an unbounded collect."""
    if op_col not in changes.columns:
        raise ValueError(
            f"change batch has no {op_col!r} column — every CDC row "
            f"must carry one of {CDC_OPS}"
        )
    chk = changes.agg(
        F.sum(
            # coalesce: a NULL op makes isin() NULL, which SUM would
            # silently skip — NULL ops must count as bad, not vanish
            (~F.coalesce(
                F.col(op_col).isin(list(CDC_OPS)), F.lit(False)
            )).cast("int")
        ).alias("bad_op"),
        F.sum(F.col(id_col).isNull().cast("int")).alias("bad_id"),
    ).collect()[0]
    if chk["bad_op"]:
        raise ValueError(
            f"{chk['bad_op']} change row(s) carry an op outside "
            f"{CDC_OPS} (or a NULL op) — fix the feed upstream"
        )
    if chk["bad_id"]:
        raise ValueError(
            f"{chk['bad_id']} change row(s) have a NULL {id_col!r} — "
            "a NULL id can neither delete nor serve"
        )
    # limit(cap + 1) bounds the collect ITSELF (never more than cap+1
    # rows reach the driver, even on an oversized feed), then the +1
    # row, if present, turns into the sized refusal.
    delete_ids = [
        r["id"]
        for r in changes.where(F.col(op_col).isin(["D", "U"]))
        .select(F.col(id_col).alias("id"))
        .distinct()
        .limit(CDC_MAX_DELETE_IDS + 1)
        .collect()
    ]
    if len(delete_ids) > CDC_MAX_DELETE_IDS:
        raise ValueError(
            f"change batch carries more than {CDC_MAX_DELETE_IDS} "
            f"distinct delete/update ids — that is a historical diff, "
            "not a micro-batch; chunk it into multiple change batches "
            "(one apply per batch_id) instead of one giant apply"
        )
    inserts = changes.where(F.col(op_col).isin(["I", "U"])).drop(op_col)
    return delete_ids, inserts


def bm25_index_apply_cdc(
    changes: SparkDF,
    store_path: str,
    id_col: str,
    text_col: str,
    batch_id: int,
    op_col: str = "op",
) -> None:
    """Apply one change batch to an incremental BM25 index. Deletes
    (D + U old versions) land as tombstone batch ``2·batch_id`` with
    their exact negative stats delta; inserts (I + U new versions) land
    as append batch ``2·batch_id + 1`` — ALWAYS written, even empty, so
    a replay whose inserts vanish still truncates its partition. The
    per-primitive contracts hold: D/U ids must be live (unknown ids
    raise — ``bm25_index_delete``'s stats-honesty rule), I ids must be
    new. Replay of the same ``batch_id`` is exactly-once."""
    del_batch, ins_batch = cdc_batch_ids(batch_id)
    delete_ids, inserts = split_cdc_batch(changes, id_col, op_col)
    if delete_ids:
        from ons_utils_spark.operators.text import bm25_index_delete

        bm25_index_delete(
            changes.sparkSession, store_path, delete_ids,
            batch_id=del_batch,
        )
    from ons_utils_spark.operators.text import bm25_index_append

    bm25_index_append(
        inserts, id_col, text_col, store_path, batch_id=ins_batch
    )


def ann_table_apply_cdc(
    changes: SparkDF,
    store_path: str,
    id_col: str,
    vec_col: str,
    batch_id: int,
    op_col: str = "op",
    method: str = "auto",
) -> None:
    """Apply one change batch to a persisted ANN serving table (IVF×PQ
    or IVF×SQ — the codec family is auto-detected from the store meta,
    the ``hybrid_ingest_writer`` recipe). Same even/odd split as the
    BM25 apply; deletes are pure tombstone filters (unknown ids are
    legal no-ops there), inserts encode with the STORED index."""
    from ons_utils_spark.operators.retrieval import ann_store_codec
    from ons_utils_spark.sources.store import (
        coded_table_append, coded_table_delete,
    )

    spark = changes.sparkSession
    codec = ann_store_codec(spark, store_path)
    del_batch, ins_batch = cdc_batch_ids(batch_id)
    delete_ids, inserts = split_cdc_batch(changes, id_col, op_col)
    if delete_ids:
        coded_table_delete(
            codec, spark, store_path, delete_ids, batch_id=del_batch
        )
    coded_table_append(
        codec, inserts, store_path, id_col=id_col, vec_col=vec_col,
        batch_id=ins_batch, method=method,
    )


#: Bound on the number of logical batches one history replay will walk.
#: Each batch costs two partition writes per store; 10k batches is a
#: year of hourly feeds — past that the caller should compact the feed
#: upstream (net-effect per id), not replay every intermediate state.
CDC_MAX_HISTORY_BATCHES = 10_000


def apply_cdc_history(
    changes: SparkDF,
    store_path: str,
    id_col: str,
    payload_col: str,
    target: str,
    batch_col: str = "batch_id",
    op_col: str = "op",
    method: str = "auto",
) -> "list[int]":
    """Replay a HISTORICAL change feed — many logical batches in one
    frame, distinguished by ``batch_col`` — against a serving store,
    in batch order. This is the actionable path the oversized-batch
    refusal in :func:`split_cdc_batch` points at: each logical batch
    applies through the micro-batch path (``bm25_index_apply_cdc`` for
    ``target="bm25"``, :func:`ann_table_apply_cdc` for ``"ann"``), so
    the per-batch delete-id cap, the even/odd split, and exactly-once
    replay all compose unchanged — re-running the whole history after
    a crash statically overwrites the same partitions.

    Ordering is the caller's contract exactly as in streaming CDC:
    batch ids apply ascending, and same-id changes must live in
    batch-id order (an update in batch 3 must not be replayed before
    the insert in batch 1). Returns the batch ids applied, ascending.
    NULL batch ids raise (a change that belongs to no batch cannot be
    ordered); more than :data:`CDC_MAX_HISTORY_BATCHES` distinct
    batches raises with the upstream-compaction message.
    """
    if target not in ("bm25", "ann"):
        raise ValueError(
            f"target must be 'bm25' or 'ann' (got {target!r})"
        )
    if batch_col not in changes.columns:
        raise ValueError(
            f"history frame has no {batch_col!r} column — a historical "
            "feed must say which logical batch each change belongs to"
        )
    rows = (
        changes.select(F.col(batch_col).alias("b"))
        .distinct()
        .orderBy("b")
        .limit(CDC_MAX_HISTORY_BATCHES + 1)
        .collect()
    )
    batch_ids = [r["b"] for r in rows]
    if any(b is None for b in batch_ids):
        raise ValueError(
            f"NULL {batch_col!r} in the history frame — every change "
            "must belong to a batch"
        )
    if len(batch_ids) > CDC_MAX_HISTORY_BATCHES:
        raise ValueError(
            f"history carries more than {CDC_MAX_HISTORY_BATCHES} "
            "logical batches — compact the feed upstream (net effect "
            "per id) instead of replaying every intermediate state"
        )
    for b in batch_ids:
        sub = changes.where(F.col(batch_col) == b).drop(batch_col)
        if target == "bm25":
            bm25_index_apply_cdc(
                sub, store_path, id_col, payload_col,
                batch_id=int(b), op_col=op_col,
            )
        else:
            ann_table_apply_cdc(
                sub, store_path, id_col, payload_col,
                batch_id=int(b), op_col=op_col, method=method,
            )
    return [int(b) for b in batch_ids]
