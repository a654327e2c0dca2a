"""Tombstone deletes across the three serving-store families — the
maintenance operation between append and compaction (the GDPR /
stale-document path; no reference twin, the reference has no durable
stores at all).

One shared semantics (``sources/store.py``): a tombstone ``(id,
batch_id)`` kills every data row for that id written at or before that
batch; a LATER append of the same id serves again (delete-then-reinsert
is the update idiom). The ANN coded tables apply deletes physically via
a fresh-generation re-save inside compaction; the BM25 store — whose
stats are SUM-merged exact integers — pairs each tombstone batch with a
negative stats delta recording the tombstone files' manifest, and
applies physically via ``bm25_index_vacuum``'s whole-store promotion.
"""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ons_utils_spark.operators import pq as PQ
from ons_utils_spark.operators import similarity as SIM
from ons_utils_spark.operators import text as T
from ons_utils_spark.sources.store import (
    append_tombstones,
    apply_tombstones,
    load_tombstone_watermarks,
)


def _rows(df, *sort_cols):
    return [tuple(r) for r in df.orderBy(*sort_cols).collect()]


@pytest.fixture(scope="module")
def emb(spark):
    import random

    rng = random.Random(7)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)
    ]
    return spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    ).localCheckpoint(eager=True)


@pytest.fixture()
def pq_store(spark, emb, tmp_path):
    """Base save (ids < 60) + one appended batch (ids >= 60)."""
    coded, coarse, cbs = PQ.ivf_pq_build(
        emb.where("vec_id < 60"), "vec_id", "embedding",
        dim=16, n_lists=4, m=2, k=8, coarse_iter=2, n_iter=1,
    )
    idx = PQ.make_ivf_pq_index(coarse, cbs)
    path = str(tmp_path / "pq_store")
    PQ.save_ivf_pq_table(coded, idx, path)
    PQ.ivf_pq_table_append(emb.where("vec_id >= 60"), path, batch_id=0)
    return path


class TestIvfPqTableDelete:
    def test_delete_filters_the_loaded_table(self, spark, emb, pq_store):
        PQ.ivf_pq_table_delete(spark, pq_store, [5, 70], batch_id=1)
        coded, _ = PQ.load_ivf_pq_table(spark, pq_store)
        ids = {r["id"] for r in coded.select("id").collect()}
        assert 5 not in ids and 70 not in ids
        assert len(ids) == 78

    def test_later_append_reinserts_and_serves_bit_identically(
        self, spark, emb, pq_store
    ):
        """Delete-then-reinsert (the update idiom): the reinserted row
        serves again, and the query result is bit-identical to encoding
        the live corpus with the stored index in one shot."""
        PQ.ivf_pq_table_delete(spark, pq_store, [5, 70], batch_id=1)
        PQ.ivf_pq_table_append(
            emb.where("vec_id = 70"), pq_store, batch_id=2
        )
        coded, idx = PQ.load_ivf_pq_table(spark, pq_store)
        q = [
            float(x)
            for x in emb.where("vec_id = 70").collect()[0]["embedding"]
        ]
        got = PQ.ivf_pq_query(coded, idx, q, n_probe=2, topk=10)
        live = PQ.ivf_pq_encode(
            emb.where("vec_id != 5"), idx, "vec_id", "embedding"
        ).select("id", "codes", "__list")
        want = PQ.ivf_pq_query(live, idx, q, n_probe=2, topk=10)
        assert _rows(got, "id") == _rows(want, "id")

    def test_delete_replay_is_idempotent(self, spark, pq_store):
        PQ.ivf_pq_table_delete(spark, pq_store, [5], batch_id=1)
        PQ.ivf_pq_table_delete(spark, pq_store, [5], batch_id=1)
        coded, _ = PQ.load_ivf_pq_table(spark, pq_store)
        assert coded.where("id = 5").count() == 0
        assert coded.count() == 79

    def test_unknown_id_is_a_legal_noop(self, spark, pq_store):
        PQ.ivf_pq_table_delete(spark, pq_store, [999_999], batch_id=1)
        coded, _ = PQ.load_ivf_pq_table(spark, pq_store)
        assert coded.count() == 80

    def test_compact_applies_deletes_and_keeps_the_reinsert(
        self, spark, emb, pq_store
    ):
        """The resurrection hazard: compaction rewrites every survivor
        to the sentinel batch, so applying deletes in place would
        re-kill reinserted rows under the stale watermarks — the
        fresh-generation route must retire rows, watermarks, and the
        substore together."""
        PQ.ivf_pq_table_delete(spark, pq_store, [5, 70], batch_id=1)
        PQ.ivf_pq_table_append(
            emb.where("vec_id = 70"), pq_store, batch_id=2
        )
        PQ.ivf_pq_table_compact(spark, pq_store)
        assert not glob.glob(pq_store + "/coded_*__tombstones")
        coded, _ = PQ.load_ivf_pq_table(spark, pq_store)
        ids = {r["id"] for r in coded.select("id").collect()}
        assert 70 in ids and 5 not in ids and len(ids) == 79

    def test_validation_raises(self, spark, pq_store):
        with pytest.raises(ValueError, match="empty"):
            PQ.ivf_pq_table_delete(spark, pq_store, [], batch_id=1)
        with pytest.raises(ValueError, match="NULL id"):
            PQ.ivf_pq_table_delete(spark, pq_store, [1, None], batch_id=1)
        with pytest.raises(ValueError, match="duplicate"):
            PQ.ivf_pq_table_delete(spark, pq_store, [1, 1], batch_id=1)
        with pytest.raises(ValueError, match="non-negative batch_id"):
            PQ.ivf_pq_table_delete(spark, pq_store, [1], batch_id=-1)
        with pytest.raises(ValueError, match="non-negative batch_id"):
            PQ.ivf_pq_table_delete(spark, pq_store, [1], batch_id=None)


class TestIvfSqTableDelete:
    @pytest.fixture()
    def sq_store(self, spark, emb, tmp_path):
        coded, coarse, vmin, vmax = SIM.ivf_sq_build(
            emb.where("vec_id < 60"), "vec_id", "embedding",
            dim=16, n_lists=4, coarse_iter=2,
        )
        idx = SIM.make_sq_index(coarse, vmin, vmax)
        path = str(tmp_path / "sq_store")
        SIM.save_sq_table(coded, idx, path)
        SIM.ivf_sq_table_append(
            emb.where("vec_id >= 60"), path, batch_id=0
        )
        return path

    def test_delete_filters_and_compact_applies(
        self, spark, emb, sq_store
    ):
        SIM.ivf_sq_table_delete(spark, sq_store, [5, 70], batch_id=1)
        coded, _ = SIM.load_sq_table(spark, sq_store)
        ids = {r["id"] for r in coded.select("id").collect()}
        assert 5 not in ids and 70 not in ids and len(ids) == 78
        SIM.ivf_sq_table_append(
            emb.where("vec_id = 70"), sq_store, batch_id=2
        )
        SIM.ivf_sq_table_compact(spark, sq_store)
        assert not glob.glob(sq_store + "/coded_*__tombstones")
        coded, _ = SIM.load_sq_table(spark, sq_store)
        ids = {r["id"] for r in coded.select("id").collect()}
        assert 70 in ids and 5 not in ids and len(ids) == 79


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"alpha beta doc{i} gamma" + (" beta" * (i % 3)))
        for i in range(30)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, body string"
    ).localCheckpoint(eager=True)


@pytest.fixture()
def bm25_store(spark, docs, tmp_path):
    """Sentinel base (ids < 20) + one appended batch (ids >= 20)."""
    path = str(tmp_path / "bm25_store")
    T.bm25_index_append(docs.where("doc_id < 20"), "doc_id", "body", path)
    T.bm25_index_append(
        docs.where("doc_id >= 20"), "doc_id", "body", path, batch_id=0
    )
    return path


def _live_build(docs, dead_ids):
    return T.bm25_index_build(
        docs.where(~F.col("doc_id").isin(list(dead_ids))),
        "doc_id", "body",
    )


class TestBm25IndexDelete:
    def test_delete_serves_the_one_shot_live_build(
        self, spark, docs, bm25_store
    ):
        """Postings, exact stats, AND scores all bit-match a one-shot
        build over the live corpus — the deletes' negative stats deltas
        keep idf/avgdl exact, not approximately right."""
        T.bm25_index_delete(spark, bm25_store, [3, 25], batch_id=1)
        p, s = T.load_bm25_index_incremental(spark, bm25_store)
        p1, s1 = _live_build(docs, [3, 25])
        assert _rows(p, "term", "id") == _rows(p1, "term", "id")
        r, r1 = s.collect()[0], s1.collect()[0]
        assert (r["n"], r["total_dl"]) == (r1["n"], r1["total_dl"])
        got = T.bm25_topk_indexed(p, s, ["beta", "doc3"], topk=10)
        want = T.bm25_topk_indexed(p1, s1, ["beta", "doc3"], topk=10)
        assert _rows(got, "id") == _rows(want, "id")

    def test_reinsert_after_delete_serves_again(
        self, spark, docs, bm25_store
    ):
        T.bm25_index_delete(spark, bm25_store, [3, 25], batch_id=1)
        T.bm25_index_append(
            docs.where("doc_id = 3"), "doc_id", "body",
            bm25_store, batch_id=2,
        )
        p, s = T.load_bm25_index_incremental(spark, bm25_store)
        p1, s1 = _live_build(docs, [25])
        assert _rows(p, "term", "id") == _rows(p1, "term", "id")
        assert s.collect()[0]["n"] == s1.collect()[0]["n"]

    def test_delete_replay_is_idempotent(self, spark, docs, bm25_store):
        T.bm25_index_delete(spark, bm25_store, [5], batch_id=1)
        T.bm25_index_delete(spark, bm25_store, [5], batch_id=1)
        p, s = T.load_bm25_index_incremental(spark, bm25_store)
        p1, s1 = _live_build(docs, [5])
        assert _rows(p, "term", "id") == _rows(p1, "term", "id")
        assert s.collect()[0]["n"] == s1.collect()[0]["n"]

    def test_unknown_id_raises_with_the_zero_token_caveat(
        self, spark, bm25_store
    ):
        """Unlike the ANN store a silent no-op would desynchronize the
        stats the caller believes it adjusted — and a zero-token doc's
        n-membership is invisible to the postings layout, so it is
        named in the same refusal."""
        with pytest.raises(ValueError, match="not live"):
            T.bm25_index_delete(spark, bm25_store, [999], batch_id=1)

    def test_zero_token_document_cannot_be_deleted(self, spark, tmp_path):
        path = str(tmp_path / "bm25_empty")
        docs = spark.range(3).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") == 1, "").otherwise("alpha beta")
            .alias("body"),
        )
        T.bm25_index_append(docs, "doc_id", "body", path)
        with pytest.raises(ValueError, match="zero-token"):
            T.bm25_index_delete(spark, path, [1], batch_id=0)

    def test_append_delete_batch_id_collision_raises(
        self, spark, docs, bm25_store
    ):
        with pytest.raises(ValueError, match="distinct batch_ids"):
            T.bm25_index_delete(spark, bm25_store, [3], batch_id=0)

    def test_torn_delete_refuses_to_serve(self, spark, bm25_store):
        """Crash between the tombstone write and the stats delta: the
        loader's tombstone manifest check must fail loudly, not serve filtered
        postings against undecremented stats."""
        append_tombstones(
            spark, [3], bm25_store + "/tombstones", 1, LongType()
        )
        with pytest.raises(ValueError, match="torn DELETE"):
            T.load_bm25_index_incremental(spark, bm25_store)
        # Recovery contract: re-running the delete with its batch_id
        # statically overwrites both halves.
        T.bm25_index_delete(spark, bm25_store, [3], batch_id=1)
        p, s = T.load_bm25_index_incremental(spark, bm25_store)
        assert p.where("id = 3").count() == 0

    def test_lost_tombstone_store_refuses_to_serve(
        self, spark, bm25_store
    ):
        T.bm25_index_delete(spark, bm25_store, [3], batch_id=1)
        shutil.rmtree(bm25_store + "/tombstones")
        with pytest.raises(ValueError, match="torn DELETE"):
            T.load_bm25_index_incremental(spark, bm25_store)

    def test_compact_refuses_pending_tombstones(
        self, spark, bm25_store
    ):
        T.bm25_index_delete(spark, bm25_store, [3], batch_id=1)
        with pytest.raises(ValueError, match="bm25_index_vacuum"):
            T.bm25_index_compact(spark, bm25_store)


class TestBm25IndexVacuum:
    def test_vacuum_applies_deletes_and_keeps_serving_exactly(
        self, spark, docs, bm25_store, tmp_path
    ):
        T.bm25_index_delete(spark, bm25_store, [3, 25], batch_id=1)
        T.bm25_index_append(
            docs.where("doc_id = 3"), "doc_id", "body",
            bm25_store, batch_id=2,
        )
        T.bm25_index_vacuum(spark, bm25_store)
        assert not (tmp_path / "bm25_store" / "tombstones").exists()
        assert not (tmp_path / "bm25_store.__save_tmp").exists()
        p, s = T.load_bm25_index_incremental(spark, bm25_store)
        p1, s1 = _live_build(docs, [25])
        assert _rows(p, "term", "id") == _rows(p1, "term", "id")
        r, r1 = s.collect()[0], s1.collect()[0]
        assert (r["n"], r["total_dl"]) == (r1["n"], r1["total_dl"])
        # The store stays maintainable: a post-vacuum append folds in,
        # and a post-vacuum delete orders correctly against it.
        extra = spark.createDataFrame(
            [(100, "alpha omega")], "doc_id long, body string"
        )
        T.bm25_index_append(extra, "doc_id", "body", bm25_store, batch_id=3)
        T.bm25_index_delete(spark, bm25_store, [100], batch_id=4)
        p, s = T.load_bm25_index_incremental(spark, bm25_store)
        assert _rows(p, "term", "id") == _rows(p1, "term", "id")
        assert s.collect()[0]["n"] == r1["n"]

    def test_vacuum_without_tombstones_is_a_compaction(
        self, spark, docs, bm25_store, tmp_path
    ):
        T.bm25_index_vacuum(spark, bm25_store)
        parts = glob.glob(bm25_store + "/postings/batch_id=*")
        assert [p.rsplit("=", 1)[1] for p in parts] == ["-1"]
        p, s = T.load_bm25_index_incremental(spark, bm25_store)
        p1, s1 = _live_build(docs, [])
        assert _rows(p, "term", "id") == _rows(p1, "term", "id")

    def test_vacuum_repairs_crash_debris_on_entry(
        self, spark, docs, bm25_store
    ):
        """Crash between the promotion's two renames leaves only the
        aside; the next vacuum restores it before rewriting."""
        shutil.move(bm25_store, bm25_store + ".__old")
        T.bm25_index_vacuum(spark, bm25_store)
        p, s = T.load_bm25_index_incremental(spark, bm25_store)
        assert s.collect()[0]["n"] == 30


class TestTombstoneHelpers:
    def test_append_requires_ordered_batch_id(self, spark, tmp_path):
        for bad in (None, -1):
            with pytest.raises(ValueError, match="non-negative batch_id"):
                append_tombstones(
                    spark, [1], str(tmp_path / "t"), bad, LongType()
                )

    def test_append_refuses_null_ids(self, spark, tmp_path):
        with pytest.raises(ValueError, match="NULL id"):
            append_tombstones(
                spark, [None], str(tmp_path / "t"), 0, LongType()
            )

    def test_watermarks_none_without_a_store(self, spark, tmp_path):
        assert load_tombstone_watermarks(
            spark, str(tmp_path / "missing")
        ) is None

    def test_apply_needs_the_batch_column(self, spark, tmp_path):
        append_tombstones(spark, [1], str(tmp_path / "t"), 3, LongType())
        wm = load_tombstone_watermarks(spark, str(tmp_path / "t"))
        rows = spark.createDataFrame([(1, "x")], "id long, v string")
        with pytest.raises(ValueError, match="batch_id column"):
            apply_tombstones(rows, wm)

    def test_watermark_kills_at_or_before_and_spares_after(
        self, spark, tmp_path
    ):
        append_tombstones(spark, [1], str(tmp_path / "t"), 3, LongType())
        wm = load_tombstone_watermarks(spark, str(tmp_path / "t"))
        rows = spark.createDataFrame(
            [(1, -1), (1, 3), (1, 4), (2, -1)],
            "id long, batch_id int",
        )
        live = apply_tombstones(rows, wm)
        assert sorted(
            (r["id"], r["batch_id"]) for r in live.collect()
        ) == [(1, 4), (2, -1)]


class TestFullMaintenanceLifecycle:
    """Every maintenance verb interleaved on one store — the sequence a
    long-lived deployment actually runs — must end bit-identical to a
    one-shot build over the net corpus."""

    def test_bm25_lifecycle(self, spark, docs, tmp_path):
        from ons_utils_spark.operators.cdc import bm25_index_apply_cdc

        path = str(tmp_path / "life_bm25")
        # base save + append
        T.bm25_index_append(docs.where("doc_id < 20"), "doc_id", "body", path)
        T.bm25_index_append(
            docs.where("doc_id >= 20"), "doc_id", "body", path, batch_id=0
        )
        # delete two docs
        T.bm25_index_delete(spark, path, [3, 25], batch_id=1)
        # CDC batch: insert 100, rewrite 7, drop 8 (even/odd split uses
        # batches 4 and 5 — past the delete above)
        changes = (
            spark.createDataFrame(
                [(100, "omega fresh words")], "doc_id long, body string"
            ).select("doc_id", "body", F.lit("I").alias("op"))
            .unionByName(
                docs.where("doc_id = 7").select(
                    "doc_id", F.lit("rewritten seven").alias("body"),
                    F.lit("U").alias("op"),
                )
            )
            .unionByName(
                docs.where("doc_id = 8").select(
                    "doc_id", "body", F.lit("D").alias("op")
                )
            )
        )
        bm25_index_apply_cdc(changes, path, "doc_id", "body", batch_id=2)
        # vacuum applies all tombstones physically
        T.bm25_index_vacuum(spark, path)
        # keep maintaining after the vacuum
        T.bm25_index_append(
            spark.createDataFrame(
                [(101, "alpha omega tail")], "doc_id long, body string"
            ),
            "doc_id", "body", path, batch_id=6,
        )
        T.bm25_index_delete(spark, path, [101], batch_id=7)
        T.bm25_index_vacuum(spark, path)
        # plain compaction still works on the now-tombstone-free store
        T.bm25_index_compact(spark, path)
        net = (
            docs.where(~F.col("doc_id").isin([3, 25, 7, 8]))
            .unionByName(
                spark.createDataFrame(
                    [(100, "omega fresh words"), (7, "rewritten seven")],
                    "doc_id long, body string",
                )
            )
        )
        p, s = T.load_bm25_index_incremental(spark, path)
        p1, s1 = T.bm25_index_build(net, "doc_id", "body")
        assert _rows(p, "term", "id") == _rows(p1, "term", "id")
        r, r1 = s.collect()[0], s1.collect()[0]
        assert (r["n"], r["total_dl"]) == (r1["n"], r1["total_dl"])
        got = T.bm25_topk_indexed(p, s, ["omega", "beta"], topk=10)
        want = T.bm25_topk_indexed(p1, s1, ["omega", "beta"], topk=10)
        assert _rows(got, "id") == _rows(want, "id")

    def test_ann_lifecycle(self, spark, emb, tmp_path):
        from ons_utils_spark.operators.cdc import ann_table_apply_cdc

        coded, coarse, cbs = PQ.ivf_pq_build(
            emb.where("vec_id < 60"), "vec_id", "embedding",
            dim=16, n_lists=4, m=2, k=8, coarse_iter=2, n_iter=1,
        )
        idx = PQ.make_ivf_pq_index(coarse, cbs)
        path = str(tmp_path / "life_ann")
        PQ.save_ivf_pq_table(coded, idx, path)
        PQ.ivf_pq_table_append(emb.where("vec_id >= 60"), path, batch_id=0)
        PQ.ivf_pq_table_delete(spark, path, [5, 70], batch_id=1)
        new_vec = [float((i % 7) - 3) / 4.0 for i in range(16)]
        changes = spark.createDataFrame(
            [(100, new_vec, "I"), (70, new_vec, "U"), (9, new_vec, "D")],
            "vec_id long, embedding array<double>, op string",
        )
        ann_table_apply_cdc(changes, path, "vec_id", "embedding", batch_id=2)
        PQ.ivf_pq_table_compact(spark, path)  # applies all tombstones
        PQ.ivf_pq_table_append(
            spark.createDataFrame(
                [(101, new_vec)], "vec_id long, embedding array<double>"
            ),
            path, batch_id=6,
        )
        PQ.ivf_pq_table_delete(spark, path, [101], batch_id=7)
        lc, li = PQ.load_ivf_pq_table(spark, path)
        ids = {r["id"] for r in lc.select("id").collect()}
        assert ids == (set(range(80)) - {5, 70, 9, 101}) | {100, 70}
        net = (
            emb.where(~F.col("vec_id").isin([5, 70, 9]))
            .unionByName(
                spark.createDataFrame(
                    [(100, new_vec), (70, new_vec)],
                    "vec_id long, embedding array<double>",
                )
            )
        )
        want_coded = PQ.ivf_pq_encode(
            net, li, "vec_id", "embedding"
        ).select("id", "codes", "__list")
        got = PQ.ivf_pq_query(lc, li, new_vec, n_probe=4, topk=10)
        want = PQ.ivf_pq_query(want_coded, li, new_vec, n_probe=4, topk=10)
        assert _rows(got, "id") == _rows(want, "id")
