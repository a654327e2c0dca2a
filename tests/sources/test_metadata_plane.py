"""The zero-job metadata plane (``sources/store.py``): index meta and
vectors, the BM25 stats rows, partition high-water marks and tombstone
watermarks are read on the driver, and every Spark scan of postings or
coded rows carries an explicit schema from one parquet footer.

Pinned two ways: the Spark jobs each call launches are counted (a job
group plus the status tracker), and the driver reader's edge cases are
compared against what the Spark reads it replaced returned."""

from __future__ import annotations

import contextlib
import os
import time
import uuid
import warnings

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ons_utils_spark.operators import pq as PQ
from ons_utils_spark.operators import retrieval
from ons_utils_spark.operators import similarity as SIM
from ons_utils_spark.operators import text as T
from ons_utils_spark.sources.store import (
    append_tombstones,
    coded_table_generation,
    footer_schema,
    load_tombstone_watermarks,
    max_batch_id,
    read_small_store,
    read_two_stores,
)


@contextlib.contextmanager
def count_jobs(spark):
    """Collect the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    jobs: list = []
    sc.setJobGroup(group, "job-count probe")
    try:
        yield jobs
    finally:
        # The status tracker is fed asynchronously by the listener bus.
        # Events arrive in order, so once a marker job launched after the
        # block is visible, every job the block launched is too.
        tracker = sc.statusTracker()
        marker = group + "-marker"
        sc.setJobGroup(marker, "job-count marker")
        sc.parallelize([0], 1).count()
        deadline = time.monotonic() + 30
        while (
            not tracker.getJobIdsForGroup(marker)
            and time.monotonic() < deadline
        ):
            time.sleep(0.05)
        for key in (
            "spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
        assert tracker.getJobIdsForGroup(marker), "marker job never seen"
        jobs.extend(tracker.getJobIdsForGroup(group))


def _generation(spark, ann):
    """The live coded generation of either family's store."""
    codec = retrieval.ann_store_codec(spark, ann)
    return coded_table_generation(codec, spark, ann)[1]


TEXTS = [
    "spark engine merge", "rareword vector stream", "spark filler words",
    "engine spark engine", "vector merge words", "stream engine rareword",
]


def _docs(spark):
    rows = [
        (i, TEXTS[i], [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)])
        for i in range(len(TEXTS))
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, embedding array<double>"
    ).localCheckpoint(eager=True)


def _build(docs, family):
    """``(coded, index)`` of a small ``family`` build over ``docs``."""
    if family == "pq":
        coded, coarse, cbs = PQ.ivf_pq_build(
            docs, "doc_id", "embedding", dim=8, n_lists=2, m=2, k=2,
            coarse_iter=1, n_iter=1,
        )
        return coded, PQ.make_ivf_pq_index(coarse, cbs)
    coded, coarse, vmin, vmax = SIM.ivf_sq_build(
        docs, "doc_id", "embedding", dim=8, n_lists=2, coarse_iter=1
    )
    return coded, SIM.make_sq_index(coarse, vmin, vmax)


#: Each family's public table verbs: save, load, append, delete, compact.
VERBS = {
    "pq": (
        PQ.save_ivf_pq_table, PQ.load_ivf_pq_table, PQ.ivf_pq_table_append,
        PQ.ivf_pq_table_delete, PQ.ivf_pq_table_compact,
    ),
    "sq": (
        SIM.save_sq_table, SIM.load_sq_table, SIM.ivf_sq_table_append,
        SIM.ivf_sq_table_delete, SIM.ivf_sq_table_compact,
    ),
}


def _ann_store(spark, docs, path, family):
    """An empty base save of ``family``'s serving table — the shape the
    hybrid maintainer bootstraps from."""
    coded, index = _build(docs, family)
    save, _, append, delete, _ = VERBS[family]
    save(coded.where("id < 0"), index, path)
    return append, delete


@pytest.fixture(scope="module", params=["pq", "sq"])
def hybrid(request, spark, tmp_path_factory):
    """A BM25 + ANN pair after two appends and a delete, each written
    to both stores under one batch_id (the hybrid maintainer's order)."""
    root = tmp_path_factory.mktemp(f"hybrid_{request.param}")
    bm25, ann = str(root / "bm25"), str(root / "ann")
    docs = _docs(spark)
    append, delete = _ann_store(spark, docs, ann, request.param)
    for b, where in ((0, "doc_id < 4"), (1, "doc_id >= 4")):
        T.bm25_index_append(
            docs.where(where), "doc_id", "text", bm25, batch_id=b
        )
        append(docs.where(where), ann, id_col="doc_id", batch_id=b)
    T.bm25_index_delete(spark, bm25, [1], batch_id=2)
    delete(spark, ann, [1], batch_id=2)
    return bm25, ann


class TestZeroJobMetadata:
    def test_counter_sees_jobs(self, spark):
        with count_jobs(spark) as jobs:
            spark.range(3).count()
        assert jobs

    def test_read_two_stores(self, spark, hybrid):
        _, ann = hybrid
        schema = (
            PQ._INDEX_META_SCHEMA
            if retrieval.ann_store_family(spark, ann) == "pq"
            else SIM._SQ_INDEX_META_SCHEMA
        )
        with count_jobs(spark) as jobs:
            meta, vectors = read_two_stores(
                f"{ann}/index/meta", schema,
                f"{ann}/index/vectors", "component string, vec array<double>",
            )
        assert jobs == []
        assert len(meta) == 1 and meta[0]["coded_generation"]
        assert {r["component"] for r in vectors} >= {"coarse"}

    def test_ann_store_family(self, spark, hybrid):
        with count_jobs(spark) as jobs:
            family = retrieval.ann_store_family(spark, hybrid[1])
        assert jobs == [] and family in ("pq", "sq")

    def test_check_hybrid_store_sync(self, spark, hybrid):
        with count_jobs(spark) as jobs, warnings.catch_warnings():
            warnings.simplefilter("error")
            marks = retrieval.check_hybrid_store_sync(spark, *hybrid)
        assert jobs == []
        assert marks == (2, 2)

    def test_load_tombstone_watermarks(self, spark, hybrid):
        with count_jobs(spark) as jobs:
            wm = load_tombstone_watermarks(spark, f"{hybrid[0]}/tombstones")
        assert jobs == []
        assert [tuple(r) for r in wm.collect()] == [(1, 2)]

    def test_load_hybrid_stores(self, spark, hybrid):
        with count_jobs(spark) as jobs:
            postings, stats, coded, _ = retrieval.load_hybrid_stores(
                spark, *hybrid
            )
        assert jobs == []
        assert {r["id"] for r in coded.select("id").collect()} == {
            0, 2, 3, 4, 5,
        }
        assert 1 not in {r["id"] for r in postings.select("id").collect()}
        assert stats.collect()[0]["n"] == 5


class TestCodedTableJobs:
    @pytest.mark.parametrize("family", ["pq", "sq"])
    def test_per_verb_job_counts(self, spark, tmp_path, family):
        """Both codecs run the one coded-table lifecycle, so each verb
        launches the same bounded number of Spark jobs for either."""
        save, load, append, delete, compact = VERBS[family]
        docs = _docs(spark)
        coded, index = _build(docs, family)
        path = str(tmp_path / "ann")
        with count_jobs(spark) as saved:
            save(coded.where("id < 3"), index, path)
        with count_jobs(spark) as appended:
            append(docs.where("doc_id >= 3"), path, id_col="doc_id",
                   batch_id=0)
        with count_jobs(spark) as loaded:
            load(spark, path)
        with count_jobs(spark) as compacted:
            compact(spark, path)
        with count_jobs(spark) as deleted:
            delete(spark, path, [1, 4], batch_id=1)
        with count_jobs(spark) as compacted_tombstones:
            compact(spark, path)
        assert len(saved) <= 3, saved
        assert len(appended) <= 3, appended
        assert loaded == []
        assert len(deleted) <= 1, deleted
        assert len(compacted) <= 2, compacted
        assert len(compacted_tombstones) <= 4, compacted_tombstones
        assert sorted(
            r["id"] for r in load(spark, path)[0].collect()
        ) == [0, 2, 3, 5]


class TestBm25StoreJobs:
    def test_per_verb_job_counts(self, spark, tmp_path):
        """The BM25 store's consistency check is a driver comparison of
        file listings with the manifests its stats rows record, so a
        load runs no Spark job, with or without tombstones; a saved
        store is the same store."""
        docs = _docs(spark)
        path = str(tmp_path / "bm25")
        with count_jobs(spark) as appended:
            T.bm25_index_append(
                docs.where("doc_id < 3"), "doc_id", "text", path,
                batch_id=0,
            )
        T.bm25_index_append(
            docs.where("doc_id >= 3"), "doc_id", "text", path, batch_id=1
        )
        with count_jobs(spark) as loaded:
            T.load_bm25_index(spark, path)
        with count_jobs(spark) as compacted:
            T.bm25_index_compact(spark, path)
        with count_jobs(spark) as deleted:
            T.bm25_index_delete(spark, path, [1, 4], batch_id=2)
        with count_jobs(spark) as loaded_tombstones:
            postings, _ = T.load_bm25_index(spark, path)
        assert {r["id"] for r in postings.collect()} == {0, 2, 3, 5}
        with count_jobs(spark) as vacuumed:
            T.bm25_index_vacuum(spark, path)
        postings_one, stats_one = T.bm25_index_build(docs, "doc_id", "text")
        one = str(tmp_path / "bm25_one")
        with count_jobs(spark) as saved:
            T.save_bm25_index(postings_one, stats_one, one)
        with count_jobs(spark) as loaded_one:
            T.load_bm25_index(spark, one)
        assert loaded == [] and loaded_tombstones == []
        assert loaded_one == []
        assert len(appended) <= 6, appended
        assert len(saved) <= 5, saved
        assert len(compacted) <= 2, compacted
        assert len(vacuumed) <= 3, vacuumed
        assert len(deleted) <= 5, deleted
        assert {
            r["id"] for r in T.load_bm25_index(spark, path)[0].collect()
        } == {0, 2, 3, 5}


class TestHybridSearchJobs:
    @pytest.mark.parametrize("family", ["pq", "sq"])
    def test_search_job_count(self, spark, tmp_path, family):
        """A hybrid search collects its query table once, and both
        retrievers' candidates meet in one exchange by query id, so a
        load plus a search stays within a fixed number of jobs."""
        bm25, ann = str(tmp_path / "bm25"), str(tmp_path / "ann")
        docs = _docs(spark)
        append, delete = _ann_store(spark, docs, ann, family)
        T.bm25_index_append(docs, "doc_id", "text", bm25, batch_id=0)
        append(docs, ann, id_col="doc_id", batch_id=0)
        T.bm25_index_delete(spark, bm25, [1], batch_id=1)
        delete(spark, ann, [1], batch_id=1)
        queries = docs.where("doc_id IN (0, 1, 4)").select(
            F.col("doc_id").alias("query_id"),
            F.split("text", " ").alias("terms"),
            "embedding",
        )
        with count_jobs(spark) as searched:
            rows = retrieval.hybrid_batch_topk(
                *retrieval.load_hybrid_stores(spark, bm25, ann), queries,
                retriever_topk=3, topk=3,
            ).collect()
        assert len(searched) <= 8, searched
        assert {r["query_id"] for r in rows} == {0, 1, 4}
        assert 1 not in {r["id"] for r in rows}

    @pytest.mark.parametrize("terms", [
        "CAST(NULL AS ARRAY<STRING>)", "CAST(array() AS ARRAY<STRING>)",
        "array('spark', NULL)",
    ])
    def test_query_table_checked_before_any_job(self, spark, hybrid, terms):
        """Malformed terms and duplicate ids raise on the driver, from
        the one collect of a local query table: no Spark job runs."""
        stores = retrieval.load_hybrid_stores(spark, *hybrid)
        vec = "array_repeat(0.5D, 8)"
        bad = spark.sql(
            f"SELECT * FROM VALUES (0L, array('spark'), {vec}), "
            f"(1L, {terms}, {vec}) AS t(query_id, terms, embedding)"
        )
        dup = spark.sql(
            f"SELECT * FROM VALUES (0L, array('spark'), {vec}), "
            f"(0L, array('engine'), {vec}) AS t(query_id, terms, embedding)"
        )
        for queries, match in ((bad, "NULL or empty"), (dup, "duplicate")):
            with count_jobs(spark) as searched:
                with pytest.raises(ValueError, match=match):
                    retrieval.hybrid_batch_topk(*stores, queries)
            assert searched == [], searched


class TestDriverReader:
    def test_list_partitioned_coded_table_reads_in_full(self, spark, hybrid):
        _, ann = hybrid
        gen = _generation(spark, ann)
        coded = f"{ann}/coded_{gen}"
        assert any(
            d.startswith("__list=")
            for d in os.listdir(f"{coded}/batch_id=0")
        )
        got = read_small_store(coded, ["id", "batch_id", "__list"])
        want = spark.read.parquet(coded).select("id", "batch_id", "__list")
        assert sorted(
            tuple(r.values()) for r in got.to_pylist()
        ) == sorted(tuple(r) for r in want.collect())
        assert got.num_rows == 6

    def test_footer_schema_matches_spark_inference(self, spark, hybrid):
        bm25, ann = hybrid
        gen = _generation(spark, ann)
        for path in (f"{ann}/coded_{gen}", f"{bm25}/postings",
                     f"{bm25}/tombstones", f"{ann}/index/meta"):
            inferred = spark.read.parquet(path).schema
            explicit = spark.read.schema(footer_schema(path)).parquet(path)
            assert explicit.schema == inferred, path
            # Field metadata (the coded tables' residual tag) survives.
            assert [f.metadata for f in explicit.schema.fields] == [
                f.metadata for f in inferred.fields
            ]

    def test_stats_fold_matches_merge_schema_read(self, spark, hybrid):
        """Stats partitions with and without the tombstone columns fold
        exactly as the ``mergeSchema`` Spark read did."""
        bm25, _ = hybrid
        raw = spark.read.option("mergeSchema", "true").parquet(
            f"{bm25}/stats"
        )
        assert "tombstone_files" in raw.columns
        want = raw.agg(
            F.sum("n").alias("n"),
            F.sum("total_dl").alias("total_dl"),
        ).collect()[0].asDict()
        fold = T._fold_stats(bm25)
        assert {k: fold[k] for k in want} == want
        cols = raw.columns
        got = read_small_store(f"{bm25}/stats", cols).to_pylist()
        assert sorted(
            tuple(r[c] for c in cols) for r in got
        ) == sorted(tuple(r) for r in raw.collect())

    def test_stats_fold_without_deletes_has_no_tombstone_targets(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "bm25")
        T.bm25_index_append(_docs(spark), "doc_id", "text", path)
        fold = T._fold_stats(path)
        assert fold["tombstone_files"] == [None]
        assert fold["n"] == len(TEXTS)

    def test_pre_generation_meta_reads_null(self, spark, tmp_path):
        docs = _docs(spark)
        coded, coarse, cbs = PQ.ivf_pq_build(
            docs, "doc_id", "embedding", dim=8, n_lists=2, m=2, k=2,
            coarse_iter=1, n_iter=1,
        )
        idx = PQ.make_ivf_pq_index(coarse, cbs)
        # The pre-generation layout: coded rows keyed by fingerprint.
        coded.write.partitionBy("__list").parquet(
            str(tmp_path / f"coded_{idx.fingerprint}")
        )
        path = str(tmp_path / "index")
        PQ.save_ivf_pq_index(spark, idx, path)
        old = [
            r.asDict() for r in spark.read.parquet(f"{path}/meta").collect()
        ]
        spark.createDataFrame(
            [tuple(v for k, v in r.items() if k != "coded_generation")
             for r in old],
            PQ._INDEX_META_SCHEMA.replace(", coded_generation string", ""),
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
        assert "coded_generation" not in footer_schema(f"{path}/meta").names
        index, meta = PQ._load_index_with_meta(spark, path)
        assert meta["coded_generation"] is None
        assert coded_table_generation(
            PQ.PQ_CODEC, spark, str(tmp_path)
        ) == (index, idx.fingerprint)

    def test_replay_truncated_partition_does_not_count(
        self, spark, tmp_path
    ):
        docs = _docs(spark)
        path = str(tmp_path / "ann")
        _ann_store(spark, docs, path, "pq")
        PQ.ivf_pq_table_append(docs, path, id_col="doc_id", batch_id=0)
        PQ.ivf_pq_table_append(
            docs.where("doc_id < 0"), path, id_col="doc_id", batch_id=3
        )
        gen = _generation(spark, path)
        coded = f"{path}/coded_{gen}"
        assert os.path.isdir(f"{coded}/batch_id=3")
        spark_max = spark.read.parquet(coded).agg(F.max("batch_id"))
        assert max_batch_id(coded) == spark_max.collect()[0][0] == 0

    def test_attribution_survives_substring_paths(self, spark, tmp_path):
        """One store's path containing the other's as a substring must
        not move rows between them (the old ``file_path`` substring test
        did)."""
        a = str(tmp_path / "a")
        b = str(tmp_path / "b") + a
        spark.createDataFrame([(1,)], "v int").write.parquet(a)
        spark.createDataFrame([(2,), (3,)], "v int").write.parquet(b)
        rows_a, rows_b = read_two_stores(a, "v int", b, "v int")
        assert [r["v"] for r in rows_a] == [1]
        assert sorted(r["v"] for r in rows_b) == [2, 3]

    def test_null_tombstone_ids_raise(self, spark, tmp_path):
        path = str(tmp_path / "t")
        spark.createDataFrame([(None,), (4,)], "id long").write.parquet(
            f"{path}/batch_id=0"
        )
        with pytest.raises(ValueError, match="NULL ids"):
            load_tombstone_watermarks(spark, path)

    def test_watermarks_fold_max_and_before(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for b, ids in ((1, [7, 8]), (4, [7])):
            append_tombstones(spark, ids, path, b, LongType())
        wm = load_tombstone_watermarks(spark, path)
        assert dict(tuple(r) for r in wm.collect()) == {7: 4, 8: 1}
        assert wm.schema.simpleString() == "struct<id:bigint,__dead_upto:int>"
        early = load_tombstone_watermarks(spark, path, before=4)
        assert dict(tuple(r) for r in early.collect()) == {7: 1, 8: 1}

    @pytest.mark.parametrize("family", ["pq", "sq"])
    def test_empty_base_save_is_unreadable_until_appended(
        self, spark, tmp_path, family
    ):
        path = str(tmp_path / "ann")
        _ann_store(spark, _docs(spark), path, family)
        load = PQ.load_ivf_pq_table if family == "pq" else SIM.load_sq_table
        with pytest.raises(ValueError, match="unreadable"):
            load(spark, path)

    def test_missing_store_path_raises(self, tmp_path):
        with pytest.raises(FileNotFoundError):
            read_small_store(str(tmp_path / "missing"))
        with pytest.raises(FileNotFoundError):
            max_batch_id(str(tmp_path / "missing"))
