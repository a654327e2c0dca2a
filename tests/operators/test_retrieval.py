"""Tests for hybrid retrieval fusion (operators/retrieval.py)."""

import pytest

from ons_utils_spark.operators import pq, retrieval, text


class TestRrfFuse:
    def _lists(self, spark):
        lex = spark.createDataFrame(
            [(1, 10, 5.0), (1, 11, 3.0), (1, 12, 1.0),
             (2, 20, 9.0), (2, 21, 2.0)],
            "query_id bigint, id bigint, bm25 double",
        )
        ann = spark.createDataFrame(
            [(1, 11, 0.1), (1, 13, 0.2), (1, 10, 0.9),
             (2, 21, 0.3), (2, 22, 0.4)],
            "query_id bigint, id bigint, adc_dist double",
        )
        return lex, ann

    def test_exact_rrf_values(self, spark):
        lex, ann = self._lists(spark)
        out = retrieval.rrf_fuse(
            [(lex, "bm25", False), (ann, "adc_dist", True)], topk=10
        ).collect()
        got = {(r["query_id"], r["id"]): r["rrf"] for r in out}
        # q1 lex ranks: 10->1, 11->2, 12->3; ann ranks: 11->1, 13->2, 10->3
        assert got[(1, 10)] == round(1.0 / 61 + 1.0 / 63, 6)
        assert got[(1, 11)] == round(1.0 / 62 + 1.0 / 61, 6)
        assert got[(1, 12)] == round(1.0 / 63, 6)   # lex only
        assert got[(1, 13)] == round(1.0 / 62, 6)   # ann only
        # consensus beats either single strong rank
        ranks = {(r["query_id"], r["id"]): r["rank"] for r in out}
        assert ranks[(1, 11)] == 1

    def test_topk_and_tiebreak(self, spark):
        # Two docs with identical single-system ranks in different
        # systems fuse to the SAME rrf — lower id must rank first.
        lex = spark.createDataFrame(
            [(1, 5, 2.0)], "query_id bigint, id bigint, s double"
        )
        ann = spark.createDataFrame(
            [(1, 3, 2.0)], "query_id bigint, id bigint, s double"
        )
        out = retrieval.rrf_fuse(
            [(lex, "s", False), (ann, "s", False)], topk=1
        ).collect()
        assert len(out) == 1 and out[0]["id"] == 3

    def test_empty_input_raises(self, spark):
        with pytest.raises(ValueError, match="empty"):
            retrieval.rrf_fuse([])

    def test_three_systems_fold_in_order(self, spark):
        dfs = [
            spark.createDataFrame(
                [(1, 7, float(i + 1))], "query_id bigint, id bigint, s double"
            )
            for i in range(3)
        ]
        out = retrieval.rrf_fuse(
            [(d, "s", False) for d in dfs], topk=5
        ).collect()
        assert out[0]["rrf"] == round((1.0 / 61 + 1.0 / 61) + 1.0 / 61, 6)


class TestHybridBatchTopk:
    def test_matches_manual_composition(self, spark):
        docs = spark.createDataFrame(
            [(i, f"alpha beta doc{i} " + ("spark " * (i % 3)))
             for i in range(30)],
            "doc_id bigint, text string",
        )
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(30)
        ]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<float>",
        )
        postings, stats = text.bm25_index_build(docs, "doc_id", "text")
        coded, coarse, cbs = pq.ivf_pq_build(
            emb, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        idx = pq.make_ivf_pq_index(coarse, cbs)
        queries = spark.createDataFrame(
            [(1, ["spark", "alpha"], vecs[2]),
             (2, ["beta"], vecs[9])],
            "query_id bigint, terms array<string>, embedding array<double>",
        )
        fused = retrieval.hybrid_batch_topk(
            postings, stats, coded, idx, queries,
            retriever_topk=8, n_probe=2, topk=5,
        )
        lex = text.bm25_batch_topk_indexed(
            postings, stats, queries.select("query_id", "terms"), topk=8
        )
        ann = pq.ivf_pq_batch_topk(
            coded, idx, queries.select("query_id", "embedding"),
            n_probe=2, topk=8,
        )
        manual = retrieval.rrf_fuse(
            [(lex, "bm25", False), (ann, "adc_dist", True)], topk=5
        )
        assert sorted(map(tuple, fused.collect())) == sorted(
            map(tuple, manual.collect())
        )
        rows = fused.collect()
        assert rows and all(r["rank"] <= 5 for r in rows)
        assert {r["query_id"] for r in rows} == {1, 2}

    def test_sq_index_dispatches_to_sq_batch_scorer(self, spark):
        """An SqIndex routes the ANN half through ivf_sq_batch_topk —
        RRF is rank-space, so the codec families are interchangeable;
        the fused output must equal the manual SQ composition."""
        from ons_utils_spark.operators import similarity as sim

        docs = spark.createDataFrame(
            [(i, f"alpha beta doc{i} " + ("spark " * (i % 3)))
             for i in range(30)],
            "doc_id bigint, text string",
        )
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(30)
        ]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<float>",
        )
        postings, stats = text.bm25_index_build(docs, "doc_id", "text")
        coded, coarse, vmin, vmax = sim.ivf_sq_build(
            emb, dim=8, n_lists=4, coarse_iter=1
        )
        idx = sim.make_sq_index(coarse, vmin, vmax)
        queries = spark.createDataFrame(
            [(1, ["spark", "alpha"], vecs[2]),
             (2, ["beta"], vecs[9])],
            "query_id bigint, terms array<string>, embedding array<double>",
        )
        fused = retrieval.hybrid_batch_topk(
            postings, stats, coded, idx, queries,
            retriever_topk=8, n_probe=2, topk=5,
        )
        lex = text.bm25_batch_topk_indexed(
            postings, stats, queries.select("query_id", "terms"), topk=8
        )
        ann = sim.ivf_sq_batch_topk(
            coded, idx, queries.select("query_id", "embedding"),
            n_probe=2, topk=8,
        )
        manual = retrieval.rrf_fuse(
            [(lex, "bm25", False), (ann, "adc_dist", True)], topk=5
        )
        assert sorted(map(tuple, fused.collect())) == sorted(
            map(tuple, manual.collect())
        )


class TestWeightedRrf:
    def test_weights_scale_contributions(self, spark):
        lex = spark.createDataFrame(
            [(1, 10, 5.0)], "query_id bigint, id bigint, s double"
        )
        ann = spark.createDataFrame(
            [(1, 10, 0.1)], "query_id bigint, id bigint, s double"
        )
        out = retrieval.rrf_fuse(
            [(lex, "s", False), (ann, "s", True)], topk=3,
            weights=[2.0, 0.5],
        ).collect()
        assert out[0]["rrf"] == round(2.0 / 61 + 0.5 / 61, 6)

    def test_unit_weights_bit_identical_to_default(self, spark):
        lex = spark.createDataFrame(
            [(1, 10, 5.0), (1, 11, 3.0)],
            "query_id bigint, id bigint, s double",
        )
        ann = spark.createDataFrame(
            [(1, 11, 0.1), (1, 12, 0.2)],
            "query_id bigint, id bigint, s double",
        )
        default = retrieval.rrf_fuse(
            [(lex, "s", False), (ann, "s", True)], topk=5
        ).collect()
        unit = retrieval.rrf_fuse(
            [(lex, "s", False), (ann, "s", True)], topk=5,
            weights=[1.0, 1.0],
        ).collect()
        assert [tuple(r) for r in default] == [tuple(r) for r in unit]

    def test_weight_count_mismatch_raises(self, spark):
        df = spark.createDataFrame(
            [(1, 10, 5.0)], "query_id bigint, id bigint, s double"
        )
        with pytest.raises(ValueError, match="one weight per system"):
            retrieval.rrf_fuse([(df, "s", False)], weights=[1.0, 2.0])

    def test_hybrid_plumbs_weights(self, spark):
        docs = spark.createDataFrame(
            [(i, "alpha spark" if i % 2 else "alpha beta")
             for i in range(20)],
            "doc_id bigint, text string",
        )
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(20)
        ]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<float>",
        )
        postings, stats = text.bm25_index_build(docs, "doc_id", "text")
        coded, coarse, cbs = pq.ivf_pq_build(
            emb, dim=8, n_lists=2, m=2, k=2, coarse_iter=1, n_iter=1
        )
        idx = pq.make_ivf_pq_index(coarse, cbs)
        queries = spark.createDataFrame(
            [(1, ["spark"], vecs[2])],
            "query_id bigint, terms array<string>, embedding array<double>",
        )
        weighted = retrieval.hybrid_batch_topk(
            postings, stats, coded, idx, queries,
            retriever_topk=5, topk=5, weights=(3.0, 0.0),
        ).collect()
        lex_only = text.bm25_batch_topk_indexed(
            postings, stats, queries.select("query_id", "terms"), topk=5
        ).collect()
        # With the ANN weight zeroed, the fused ORDER must be the
        # lexical order restricted to fused candidates.
        fused_rank = {r["id"]: r["rank"] for r in weighted}
        lex_rank = {r["id"]: r["rank"] for r in lex_only}
        lex_docs = [r["id"] for r in weighted if r["id"] in lex_rank]
        assert lex_docs == sorted(lex_docs, key=lambda d: lex_rank[d])
        assert any(r["rrf"] == round(3.0 / 61, 6) for r in weighted)


class TestHybridStoreSync:
    """check_hybrid_store_sync / load_hybrid_stores — the hybrid
    maintainer's cross-store skew made observable (VERDICT r11 'what's
    wrong' #1): a maintainer that died between the two appends leaves
    one store permanently ahead; loading the pair must WARN (never
    refuse — one trigger of skew is legal while it runs)."""

    def _stores(self, spark, tmp_path):
        from ons_utils_spark.operators import pq, text

        texts = [
            "spark engine merge", "rareword vector stream",
            "spark filler words", "engine spark engine",
        ]
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(len(texts))
        ]
        rows = [
            (i, texts[i], [float(x) for x in vecs[i]])
            for i in range(len(texts))
        ]
        schema = "doc_id bigint, text string, embedding array<double>"
        full = spark.createDataFrame(rows, schema)
        coded, coarse, cbs = pq.ivf_pq_build(
            full, "doc_id", "embedding", dim=8, n_lists=2, m=2, k=2,
            coarse_iter=1, n_iter=1,
        )
        idx = pq.make_ivf_pq_index(coarse, cbs)
        ann = str(tmp_path / "ann")
        pq.save_ivf_pq_table(coded.where("id < 0"), idx, ann)
        bm25 = str(tmp_path / "bm25")
        # Batch 0 lands in BOTH stores (a healthy trigger).
        text.bm25_index_append(
            full.where("doc_id < 2"), "doc_id", "text", bm25, batch_id=0
        )
        pq.ivf_pq_table_append(
            full.where("doc_id < 2"), ann, id_col="doc_id", batch_id=0
        )
        return full, bm25, ann

    def test_healthy_pair_is_silent(self, spark, tmp_path):
        import warnings

        from ons_utils_spark.operators import retrieval

        full, bm25, ann = self._stores(spark, tmp_path)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            b, a = retrieval.check_hybrid_store_sync(spark, bm25, ann)
        assert b == 0 and a == 0

    def test_maintainer_killed_between_appends_warns(
        self, spark, tmp_path
    ):
        import warnings

        from ons_utils_spark.operators import pq, retrieval, text

        full, bm25, ann = self._stores(spark, tmp_path)
        # Batch 1: the maintainer appends BM25 first, then dies before
        # the ANN append — permanent skew if it never restarts.
        text.bm25_index_append(
            full.where("doc_id >= 2"), "doc_id", "text", bm25, batch_id=1
        )
        with pytest.warns(UserWarning, match="hybrid store skew"):
            b, a = retrieval.check_hybrid_store_sync(spark, bm25, ann)
        assert b == 1 and a == 0
        # load_hybrid_stores surfaces the same warning at serve time
        # but still serves (skew is legal for a live trigger).
        with pytest.warns(UserWarning, match="hybrid store skew"):
            postings, stats, coded, idx = retrieval.load_hybrid_stores(
                spark, bm25, ann
            )
        assert coded.count() == 2 and postings.count() > 0
        # A restarted maintainer's replay of batch 1 heals the pair.
        pq.ivf_pq_table_append(
            full.where("doc_id >= 2"), ann, id_col="doc_id", batch_id=1
        )
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            b, a = retrieval.check_hybrid_store_sync(spark, bm25, ann)
        assert b == 1 and a == 1

    def test_skew_witness_serves_sq_stores_too(self, spark, tmp_path):
        """check_hybrid_store_sync auto-detects the ANN family — an
        IVF×SQ serving table is checked with the same witness."""
        import warnings

        from ons_utils_spark.operators import retrieval, text
        from ons_utils_spark.operators import similarity as sim

        full, bm25, _ = self._stores(spark, tmp_path)
        vecs = {
            r["doc_id"]: [float(x) for x in r["embedding"]]
            for r in full.collect()
        }
        coded, coarse, vmin, vmax = sim.ivf_sq_build(
            full, "doc_id", "embedding", dim=8, n_lists=2, coarse_iter=1
        )
        idx = sim.make_sq_index(coarse, vmin, vmax)
        ann = str(tmp_path / "ann_sq")
        sim.save_sq_table(coded.where("id < 0"), idx, ann)
        assert retrieval.ann_store_family(spark, ann) == "sq"
        sim.ivf_sq_table_append(
            full.where("doc_id < 2"), ann, id_col="doc_id", batch_id=0
        )
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            b, a = retrieval.check_hybrid_store_sync(spark, bm25, ann)
        assert b == 0 and a == 0
        text.bm25_index_append(
            full.where("doc_id >= 2"), "doc_id", "text", bm25, batch_id=1
        )
        with pytest.warns(UserWarning, match="hybrid store skew.*IVF×SQ"):
            retrieval.check_hybrid_store_sync(spark, bm25, ann)

    def test_append_and_delete_to_both_stores_is_silent(
        self, spark, tmp_path
    ):
        """An ANN delete writes only tombstones, a BM25 delete a stats
        partition: the ANN high-water mark counts its live generation's
        tombstone partitions, so deleting the same ids from both stores
        under one batch_id is not skew."""
        import warnings

        from ons_utils_spark.operators import pq, retrieval, text

        full, bm25, ann = self._stores(spark, tmp_path)
        text.bm25_index_append(
            full.where("doc_id >= 2"), "doc_id", "text", bm25, batch_id=1
        )
        pq.ivf_pq_table_append(
            full.where("doc_id >= 2"), ann, id_col="doc_id", batch_id=1
        )
        text.bm25_index_delete(spark, bm25, [0, 3], batch_id=2)
        pq.ivf_pq_table_delete(spark, ann, [0, 3], batch_id=2)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            b, a = retrieval.check_hybrid_store_sync(spark, bm25, ann)
        assert b == 2 and a == 2

    def test_bm25_only_delete_warns(self, spark, tmp_path):
        from ons_utils_spark.operators import retrieval, text

        _, bm25, ann = self._stores(spark, tmp_path)
        text.bm25_index_delete(spark, bm25, [1], batch_id=1)
        with pytest.warns(UserWarning, match="hybrid store skew"):
            b, a = retrieval.check_hybrid_store_sync(spark, bm25, ann)
        assert b == 1 and a == 0
