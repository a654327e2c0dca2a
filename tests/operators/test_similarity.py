"""Similarity-search operator tests."""

import pytest

from ons_utils_spark.operators.similarity import (
    cosine_topk,
    make_planes,
    srp_topk,
)


def _vectors(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [-1.0, 0.0, 0.0, 0.0]),
            (5, [0.7, 0.7, 0.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )


class TestCosineTopk:
    def test_orders_by_similarity(self, spark):
        out = cosine_topk(_vectors(spark), [1.0, 0.0, 0.0, 0.0], k=3).collect()
        assert [r["id"] for r in out] == [1, 2, 5]
        assert out[0]["cos_sim"] == 1.0

    def test_k_limits(self, spark):
        assert cosine_topk(_vectors(spark), [1.0, 0.0, 0.0, 0.0], k=2).count() == 2


class TestSrpTopk:
    def test_subset_of_bucket_and_finds_self(self, spark):
        df = _vectors(spark)
        out = srp_topk(df, [1.0, 0.0, 0.0, 0.0], k=5, n_planes=4).collect()
        ids = [r["id"] for r in out]
        # The query vector equals vector 1, which must land in the query's
        # own bucket and rank first.
        assert ids[0] == 1
        # Opposite vector can never share every hyperplane side.
        assert 4 not in ids

    def test_deterministic_planes(self):
        assert make_planes(4, 8, seed=7) == make_planes(4, 8, seed=7)
        assert make_planes(4, 8, seed=7) != make_planes(4, 8, seed=8)


class TestIvf:
    def test_ivf_recall_against_brute_force(self, spark):
        import random

        from ons_utils_spark.operators.similarity import cosine_topk, ivf_build, ivf_topk

        rng = random.Random(11)
        # Three well-separated clusters in 8-d.
        centers = [[5.0] * 4 + [0.0] * 4, [0.0] * 4 + [5.0] * 4, [2.5] * 8]
        rows = []
        for i in range(90):
            c = centers[i % 3]
            rows.append((i, [v + rng.gauss(0, 0.3) for v in c]))
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        query = centers[0]

        assigned, centroids = ivf_build(df, n_lists=3, seed=1)
        approx = [r["id"] for r in ivf_topk(assigned, centroids, query, k=5, n_probe=1).collect()]
        exact = [r["id"] for r in cosine_topk(df, query, k=5).collect()]
        # With clean clusters and the right probe list, recall is total.
        assert approx == exact

    def test_probe_all_lists_is_exact(self, spark):
        import random

        from ons_utils_spark.operators.similarity import cosine_topk, ivf_build, ivf_topk

        rng = random.Random(5)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        query = rows[0][1]
        assigned, centroids = ivf_build(df, n_lists=4, seed=2)
        approx = [r["id"] for r in ivf_topk(assigned, centroids, query, k=8, n_probe=4).collect()]
        exact = [r["id"] for r in cosine_topk(df, query, k=8).collect()]
        assert approx == exact


class TestQuantization:
    @pytest.fixture()
    def vecs(self, spark):
        return spark.createDataFrame(
            [
                (1, [1.0, -0.5, 0.25, 0.0]),
                (2, [0.001, 0.002, -0.003, 0.004]),
                (3, [0.0, 0.0, 0.0, 0.0]),
            ],
            "vec_id bigint, embedding array<float>",
        )

    def test_roundtrip_error_bounded_by_half_scale(self, spark, vecs):
        from ons_utils_spark.operators.similarity import (
            dequantize_embeddings,
            quantize_embeddings,
        )

        out = dequantize_embeddings(
            quantize_embeddings(vecs, "embedding"), out_col="deq"
        ).collect()
        for r in out:
            orig = [float(x) for x in r["embedding"]]
            assert len(r["q"]) == len(orig)
            for o, d in zip(orig, r["deq"]):
                assert abs(o - d) <= r["scale"] / 2 + 1e-12

    def test_codes_exact_for_known_vector(self, spark, vecs):
        from ons_utils_spark.operators.similarity import quantize_embeddings

        rows = {r["vec_id"]: r for r in quantize_embeddings(vecs, "embedding").collect()}
        # vec 1: scale = 1/127; codes = floor(x*127 + 0.5)
        assert rows[1]["q"] == [127, -63, 32, 0]
        assert rows[1]["scale"] == pytest.approx(1.0 / 127)
        # zero vector: scale 0, all-zero codes (no 0/0 NaN)
        assert rows[3]["scale"] == 0.0 and rows[3]["q"] == [0, 0, 0, 0]

    def test_codes_within_bit_range(self, spark, vecs):
        from ons_utils_spark.operators.similarity import quantize_embeddings

        for bits in (4, 8):
            qmax = (1 << (bits - 1)) - 1
            rows = quantize_embeddings(vecs, "embedding", bits=bits).collect()
            assert all(-qmax <= c <= qmax for r in rows for c in r["q"])

    def test_bad_bits_raises(self, spark, vecs):
        from ons_utils_spark.operators.similarity import quantize_embeddings

        with pytest.raises(ValueError, match="bits"):
            quantize_embeddings(vecs, "embedding", bits=1)


class TestRandomProjection:
    def _emb(self, spark, n=200, dim=32, seed=3):
        import random

        rng = random.Random(seed)
        rows = [
            (i, [rng.gauss(0.0, 1.0) for _ in range(dim)]) for i in range(n)
        ]
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def test_shape_and_determinism(self, spark):
        from ons_utils_spark.operators.similarity import random_projection_reduce

        emb = self._emb(spark)
        a = random_projection_reduce(emb, in_dim=32, out_dim=8).collect()
        b = random_projection_reduce(emb, in_dim=32, out_dim=8).collect()
        assert len(a) == 200 and all(len(r["reduced"]) == 8 for r in a)
        assert sorted(map(str, a)) == sorted(map(str, b))

    def test_jl_distance_preservation_on_average(self, spark):
        """JL contract: squared distances are preserved in expectation.
        With a fixed seed this is a deterministic pin, tolerances sized
        for out_dim=16 (ε ~ sqrt(8 ln n / d) ≈ 1 for a loose bound; the
        mean ratio concentrates far tighter)."""
        import random as _r

        from ons_utils_spark.operators.similarity import random_projection_reduce

        emb = self._emb(spark, n=120, dim=32)
        red = {
            r["id"]: list(r["reduced"])
            for r in random_projection_reduce(
                emb, in_dim=32, out_dim=16
            ).collect()
        }
        orig = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
        rng = _r.Random(0)
        ids = sorted(orig)
        ratios = []
        for _ in range(300):
            a, b = rng.sample(ids, 2)
            d_o = sum((x - y) ** 2 for x, y in zip(orig[a], orig[b]))
            d_r = sum((x - y) ** 2 for x, y in zip(red[a], red[b]))
            ratios.append(d_r / d_o)
        mean = sum(ratios) / len(ratios)
        assert 0.8 < mean < 1.2  # unbiased estimator, tight at 300 pairs
        assert all(0.2 < r < 3.0 for r in ratios)  # no catastrophic pair

    def test_shares_srp_plane_family(self, spark):
        """Same seed → the projection directions ARE the SRP planes, so
        sign(reduced_j) equals the SRP signature bit."""
        from ons_utils_spark.operators.similarity import (
            make_planes,
            random_projection_reduce,
            srp_signature,
        )

        from pyspark.sql import functions as F

        emb = self._emb(spark, n=50, dim=32)
        planes = make_planes(32, n_planes=8, seed=42)
        both = (
            random_projection_reduce(emb, in_dim=32, out_dim=8, seed=42)
            .join(
                emb.select(
                    F.col("vec_id").alias("id"),
                    srp_signature("embedding", planes).alias("sig"),
                ),
                "id",
            )
            .collect()
        )
        for r in both:
            for j, v in enumerate(r["reduced"]):
                assert (v > 0) == bool(r["sig"] >> j & 1) or v == 0.0

    def test_validation(self, spark):
        import pytest as _pytest

        from ons_utils_spark.operators.similarity import random_projection_reduce

        with _pytest.raises(ValueError, match="dims"):
            random_projection_reduce(self._emb(spark), in_dim=32, out_dim=0)


class TestMmrRerank:
    """mmr_rerank — greedy diversity selection over a retrieval
    shortlist (driver-side by contract)."""

    def _fixture(self, spark):
        # 1 and 2 are near-duplicates aligned with the query; 3 is
        # orthogonal; 5 sits between. Pure relevance ranks 1, 2, 5, 3;
        # diversity should pull 3/5 ahead of the near-dup 2.
        df = _vectors(spark)
        q = [1.0, 0.0, 0.0, 0.0]
        return df, cosine_topk(df, q, k=5), q

    def test_lambda_one_is_pure_relevance(self, spark):
        from ons_utils_spark.operators.similarity import mmr_rerank

        df, cand, _ = self._fixture(spark)
        got = mmr_rerank(cand, df, k=3, lambda_=1.0).collect()
        want = [r["id"] for r in cand.collect()][:3]
        assert [r["id"] for r in got] == want
        assert [r["rank"] for r in got] == [1, 2, 3]

    def test_diversity_demotes_near_duplicate(self, spark):
        from ons_utils_spark.operators.similarity import mmr_rerank

        df, cand, _ = self._fixture(spark)
        # λ=0.5 with query == vector 1 is degenerate (rel(d) ==
        # sim(d, pick1) → every mmr is exactly 0); 0.3 weights
        # diversity enough that the near-dup 2 (cos ~0.994 to pick 1)
        # must fall behind the dissimilar candidates.
        got = [r["id"] for r in mmr_rerank(
            cand, df, k=3, lambda_=0.3
        ).collect()]
        assert got[0] == 1
        assert got[1] != 2 and got[2] != 2

    def test_first_pick_score_is_lambda_times_rel(self, spark):
        from ons_utils_spark.operators.similarity import mmr_rerank

        df, cand, _ = self._fixture(spark)
        got = mmr_rerank(cand, df, k=1, lambda_=0.7).collect()
        top_rel = cand.collect()[0]["cos_sim"]
        assert got[0]["mmr_score"] == pytest.approx(0.7 * top_rel)

    def test_k_wider_than_shortlist_returns_all(self, spark):
        from ons_utils_spark.operators.similarity import mmr_rerank

        df, cand, _ = self._fixture(spark)
        assert mmr_rerank(cand, df, k=50, lambda_=0.7).count() == 5

    def test_candidate_cap_raises_sized_error(self, spark, monkeypatch):
        from ons_utils_spark.operators import similarity as sim

        df, cand, _ = self._fixture(spark)
        monkeypatch.setattr(sim, "_MMR_MAX_CANDIDATES", 3)
        with pytest.raises(ValueError, match="5 candidates.*bounded at 3"):
            sim.mmr_rerank(cand, df, k=2)

    def test_missing_vector_raises(self, spark):
        from ons_utils_spark.operators.similarity import mmr_rerank
        from pyspark.sql import functions as F

        df, cand, _ = self._fixture(spark)
        with pytest.raises(ValueError, match="no vector"):
            mmr_rerank(cand, df.where(F.col("vec_id") != 3), k=3)

    def test_zero_norm_vector_raises(self, spark):
        from ons_utils_spark.operators.similarity import mmr_rerank

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
            "vec_id bigint, embedding array<float>",
        )
        cand = spark.createDataFrame(
            [(1, 1.0), (2, 0.5)], "id bigint, cos_sim double"
        )
        with pytest.raises(ValueError, match="zero-norm"):
            mmr_rerank(cand, df, k=2)

    def test_lambda_validated(self, spark):
        from ons_utils_spark.operators.similarity import mmr_rerank

        df, cand, _ = self._fixture(spark)
        with pytest.raises(ValueError, match="lambda_"):
            mmr_rerank(cand, df, lambda_=1.5)

    def test_string_ids_supported(self, spark):
        from ons_utils_spark.operators.similarity import mmr_rerank

        vecs = spark.createDataFrame(
            [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])],
            "doc_id string, embedding array<float>",
        )
        cand = spark.createDataFrame(
            [("a", 0.9), ("b", 0.8), ("c", 0.3)], "id string, cos_sim double"
        )
        got = mmr_rerank(
            cand, vecs, k=2, lambda_=0.5, id_col="doc_id"
        ).collect()
        assert got[0]["id"] == "a" and got[1]["id"] == "c"

    def test_duplicate_candidate_ids_raise(self, spark):
        """ADVICE r11: a duplicate id would collapse in the rel dict
        while staying twice in the pick list — the greedy loop could
        select the same id twice. Malformed shortlists must raise."""
        from ons_utils_spark.operators.similarity import mmr_rerank

        df = _vectors(spark)
        cand = spark.createDataFrame(
            [(1, 1.0), (1, 0.9), (3, 0.5)], "id bigint, cos_sim double"
        )
        with pytest.raises(ValueError, match="duplicate"):
            mmr_rerank(cand, df, k=2)


class TestScalarQuantizer:
    """sq_train / sq_encode / sq_adc_topk — trained per-dimension SQ8."""

    def _df(self, spark):
        return spark.createDataFrame(
            [
                (1, [0.0, 10.0, 5.0]),
                (2, [1.0, 20.0, 5.0]),
                (3, [0.5, 15.0, 5.0]),
            ],
            "vec_id bigint, embedding array<float>",
        )

    def test_train_is_per_dimension_min_max(self, spark):
        from ons_utils_spark.operators.similarity import sq_train

        vmin, vmax = sq_train(self._df(spark), dim=3)
        assert vmin == [0.0, 10.0, 5.0]
        assert vmax == [1.0, 20.0, 5.0]

    def test_encode_pins_grid_edges(self, spark):
        from ons_utils_spark.operators.similarity import sq_encode, sq_train

        df = self._df(spark)
        vmin, vmax = sq_train(df, dim=3)
        by_id = {
            r["id"]: list(r["codes"])
            for r in sq_encode(df, vmin, vmax).collect()
        }
        assert by_id[1][0] == 0 and by_id[2][0] == 255  # dim-0 min/max
        assert by_id[1][1] == 0 and by_id[2][1] == 255  # dim-1 min/max
        assert by_id[3][0] == 128  # 0.5 of the grid, half-up

    def test_constant_dimension_codes_zero(self, spark):
        from ons_utils_spark.operators.similarity import sq_encode, sq_train

        df = self._df(spark)
        vmin, vmax = sq_train(df, dim=3)
        codes = sq_encode(df, vmin, vmax).collect()
        assert all(list(r["codes"])[2] == 0 for r in codes)

    def test_out_of_range_values_clamp(self, spark):
        from ons_utils_spark.operators.similarity import sq_encode

        extra = spark.createDataFrame(
            [(9, [-5.0, 100.0, 5.0])], "vec_id bigint, embedding array<float>"
        )
        codes = sq_encode(extra, [0.0, 10.0, 5.0], [1.0, 20.0, 5.0]).collect()
        assert list(codes[0]["codes"])[:2] == [0, 255]

    def test_reconstruction_error_bounded_by_half_step(self, spark):
        from ons_utils_spark.operators.similarity import sq_encode, sq_train

        import random

        rng = random.Random(7)
        vecs = [
            (i, [rng.uniform(-3, 3) for _ in range(4)]) for i in range(50)
        ]
        df = spark.createDataFrame(
            vecs, "vec_id bigint, embedding array<float>"
        )
        vmin, vmax = sq_train(df, dim=4)
        deltas = [(mx - mn) / 255 for mn, mx in zip(vmin, vmax)]
        raw = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in df.collect()
        }
        for r in sq_encode(df, vmin, vmax).collect():
            for j, c in enumerate(r["codes"]):
                decoded = vmin[j] + c * deltas[j]
                assert abs(decoded - raw[r["id"]][j]) <= deltas[j] / 2 + 1e-9

    def test_adc_topk_finds_nearest_on_separated_data(self, spark):
        from ons_utils_spark.operators.similarity import (
            sq_adc_topk, sq_encode, sq_train,
        )

        # Two far-apart clusters; grid error << cluster separation, so
        # SQ ADC ordering == exact ordering.
        vecs = [(i, [10.0 + i * 0.1, 0.0]) for i in range(5)]
        vecs += [(10 + i, [-10.0 - i * 0.1, 0.0]) for i in range(5)]
        df = spark.createDataFrame(
            vecs, "vec_id bigint, embedding array<float>"
        )
        vmin, vmax = sq_train(df, dim=2)
        codes = sq_encode(df, vmin, vmax)
        got = sq_adc_topk(codes, vmin, vmax, [10.0, 0.0], topk=5).collect()
        assert [r["id"] for r in got] == [0, 1, 2, 3, 4]
        assert got[0]["adc_dist"] < 0.01

    def test_validation(self, spark):
        from ons_utils_spark.operators.similarity import (
            sq_adc_topk, sq_encode, sq_train,
        )

        df = self._df(spark)
        with pytest.raises(ValueError, match="empty corpus"):
            sq_train(df.where("vec_id > 99"), dim=3)
        with pytest.raises(ValueError, match="length mismatch"):
            sq_encode(df, [0.0], [1.0, 2.0])
        vmin, vmax = sq_train(df, dim=3)
        with pytest.raises(ValueError, match="query dim"):
            sq_adc_topk(sq_encode(df, vmin, vmax), vmin, vmax, [1.0])


class TestIvfSq:
    """ivf_sq_build / ivf_sq_topk — the IVF×SQ composed serving shape."""

    def _spread(self, spark, n=40, dim=8):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(dim)]
            for i in range(n)
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<float>",
        )
        return df, vecs

    def test_coded_carries_list_matching_coarse_kmeans(self, spark):
        from ons_utils_spark.operators.semantic import kmeans_lloyd
        from ons_utils_spark.operators.similarity import ivf_sq_build

        df, _ = self._spread(spark)
        coded, coarse, vmin, vmax = ivf_sq_build(
            df, dim=8, n_lists=4, coarse_iter=1
        )
        assert set(coded.columns) == {"id", "codes", "__list"}
        assigned, cents = kmeans_lloyd(df, k=4, n_iter=1)
        assert cents == coarse
        want = {r["vec_id"]: r["__cluster"] for r in assigned.collect()}
        got = {r["id"]: r["__list"] for r in coded.collect()}
        assert got == want

    def test_full_probe_degenerates_to_sq_scan(self, spark):
        from ons_utils_spark.operators.similarity import (
            ivf_sq_build, ivf_sq_topk, sq_adc_topk, sq_encode,
        )

        df, vecs = self._spread(spark)
        coded, coarse, vmin, vmax = ivf_sq_build(
            df, dim=8, n_lists=4, coarse_iter=1
        )
        q = vecs[0]
        ivf = ivf_sq_topk(
            coded, coarse, vmin, vmax, q, n_probe=4, topk=40
        ).collect()
        plain = sq_adc_topk(
            sq_encode(df, vmin, vmax), vmin, vmax, q, topk=40
        ).collect()
        assert [(r["id"], r["adc_dist"]) for r in ivf] == [
            (r["id"], r["adc_dist"]) for r in plain
        ]

    def test_probe_restricts_scan_to_nearest_list(self, spark):
        from pyspark.sql import functions as F

        from ons_utils_spark.operators.semantic import _py_dot
        from ons_utils_spark.operators.similarity import (
            ivf_sq_build, ivf_sq_topk,
        )

        df, vecs = self._spread(spark)
        coded, coarse, vmin, vmax = ivf_sq_build(
            df, dim=8, n_lists=4, coarse_iter=1
        )
        q = vecs[3]
        qq = _py_dot(q, q)
        probe = sorted(
            (qq + _py_dot(c, c) - 2 * _py_dot(q, c), j)
            for j, c in enumerate(coarse)
        )[0][1]
        got_ids = {
            r["id"]
            for r in ivf_sq_topk(
                coded, coarse, vmin, vmax, q, n_probe=1, topk=40
            ).collect()
        }
        member_ids = {
            r["id"] for r in coded.where(F.col("__list") == probe).collect()
        }
        assert got_ids == member_ids

    def test_dim_guards(self, spark):
        from ons_utils_spark.operators.similarity import (
            ivf_sq_build, ivf_sq_topk,
        )

        df, vecs = self._spread(spark)
        coded, coarse, vmin, vmax = ivf_sq_build(
            df, dim=8, n_lists=4, coarse_iter=1
        )
        with pytest.raises(ValueError, match="query dim"):
            ivf_sq_topk(coded, coarse, vmin, vmax, [1.0, 2.0])
        with pytest.raises(ValueError, match="centroid dim"):
            ivf_sq_topk(coded, [[1.0, 2.0]], vmin, vmax, vecs[0])


class TestSqIndexPersistence:
    """make_sq_index / save_sq_index / load_sq_index / ivf_sq_query."""

    def _index(self, spark):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<float>",
        )
        from ons_utils_spark.operators.similarity import (
            ivf_sq_build, make_sq_index,
        )

        coded, coarse, vmin, vmax = ivf_sq_build(
            df, dim=8, n_lists=4, coarse_iter=1
        )
        return df, vecs, coded, make_sq_index(coarse, vmin, vmax)

    def test_round_trip_bit_identity(self, spark, tmp_path):
        from ons_utils_spark.operators.similarity import (
            ivf_sq_query, load_sq_index, save_sq_index,
        )

        df, vecs, coded, idx = self._index(spark)
        save_sq_index(spark, idx, str(tmp_path / "sq"))
        li = load_sq_index(spark, str(tmp_path / "sq"))
        assert li == idx  # NamedTuple equality: every double + fingerprint
        a = ivf_sq_query(coded, idx, vecs[5], topk=8).collect()
        b = ivf_sq_query(coded, li, vecs[5], topk=8).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_torn_save_rejected(self, spark, tmp_path):
        """vectors/ without meta/ (the crash-mid-save state: meta is
        written LAST) must not load."""
        from ons_utils_spark.operators.similarity import (
            load_sq_index, save_sq_index,
        )

        import shutil

        df, vecs, coded, idx = self._index(spark)
        save_sq_index(spark, idx, str(tmp_path / "sq"))
        shutil.rmtree(str(tmp_path / "sq" / "meta"))
        with pytest.raises(Exception):
            load_sq_index(spark, str(tmp_path / "sq"))

    def test_corrupted_payload_fails_fingerprint(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from ons_utils_spark.operators.similarity import (
            load_sq_index, save_sq_index,
        )

        df, vecs, coded, idx = self._index(spark)
        path = str(tmp_path / "sq")
        save_sq_index(spark, idx, path)
        vectors = spark.read.parquet(f"{path}/vectors").collect()
        rows = [
            (
                r["component"], r["idx"],
                [v + 1e-9 for v in r["vec"]]
                if r["component"] == "vmin" else list(r["vec"]),
            )
            for r in vectors
        ]
        spark.createDataFrame(
            rows, "component string, idx int, vec array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/vectors")
        with pytest.raises(ValueError, match="fingerprint"):
            load_sq_index(spark, path)

    def test_make_index_validates(self, spark):
        from ons_utils_spark.operators.similarity import make_sq_index

        with pytest.raises(ValueError, match="equal-length"):
            make_sq_index([], [0.0], [1.0, 2.0])
        with pytest.raises(ValueError, match="vmax < vmin"):
            make_sq_index([], [1.0], [0.0])
        with pytest.raises(ValueError, match="centroid dim"):
            make_sq_index([[1.0, 2.0]], [0.0], [1.0])

    def test_plain_sq_index_no_lists(self, spark, tmp_path):
        from ons_utils_spark.operators.similarity import (
            load_sq_index, make_sq_index, save_sq_index,
        )

        idx = make_sq_index([], [0.0, -1.0], [1.0, 2.0])
        assert idx.n_lists == 0 and idx.dim == 2
        save_sq_index(spark, idx, str(tmp_path / "plain"))
        assert load_sq_index(spark, str(tmp_path / "plain")) == idx


class TestIvfSqPartitionPruning:
    def test_list_partitioned_probe_prunes_partitions(self, spark, tmp_path):
        """The same serving claim as the PQ twin: an IVF×SQ coded table
        written partitioned by __list answers a probe via directory-
        level partition pruning, bit-identical to the in-session scan."""
        import re

        from pyspark.sql import functions as F

        from ons_utils_spark.operators.semantic import _py_dot
        from ons_utils_spark.operators.similarity import (
            ivf_sq_build, ivf_sq_topk,
        )
        from ons_utils_spark.sources.write import write_table

        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<float>",
        )
        coded, coarse, vmin, vmax = ivf_sq_build(
            df, dim=8, n_lists=4, coarse_iter=1
        )
        path = str(tmp_path / "coded")
        write_table(coded, path, partition_by="__list")
        stored = spark.read.parquet(path)

        q = vecs[0]
        top = ivf_sq_topk(stored, coarse, vmin, vmax, q, n_probe=1, topk=5)
        rows = top.collect()
        assert rows
        plan = top._jdf.queryExecution().executedPlan().toString()
        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert pf and "__list" in pf.group(1), plan[:800]
        qq = _py_dot(q, q)
        probe = sorted(
            (qq + _py_dot(c, c) - 2 * _py_dot(q, c), j)
            for j, c in enumerate(coarse)
        )[0][1]
        dirs = {
            r[0].rsplit("/", 2)[-2]
            for r in stored.where(F.col("__list") == probe)
            .select(F.input_file_name())
            .distinct()
            .collect()
        }
        assert dirs == {f"__list={probe}"}
        direct = ivf_sq_topk(coded, coarse, vmin, vmax, q, n_probe=1, topk=5)
        assert [tuple(r) for r in rows] == [tuple(r) for r in direct.collect()]


class TestIvfSqEncode:
    def test_encode_with_stored_index_matches_one_shot_build(self, spark):
        """For a FIXED index, encoding a held-out batch with
        ivf_sq_encode must equal the one-shot build's rows for those
        ids — the append ≡ build bit-parity contract."""
        from pyspark.sql import functions as F

        from ons_utils_spark.operators.similarity import (
            ivf_sq_build, ivf_sq_encode, make_sq_index,
        )

        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        full = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<float>",
        )
        base = full.where(F.col("vec_id") < 30)
        # Index trained on the BASE only (grids + centroids frozen),
        # then the one-shot encode of the FULL corpus under that index
        # is the parity reference for encoding the held-out batch.
        coded_base, coarse, vmin, vmax = ivf_sq_build(
            base, dim=8, n_lists=4, coarse_iter=1
        )
        idx = make_sq_index(coarse, vmin, vmax)
        reference = {
            r["id"]: (list(r["codes"]), r["__list"])
            for r in ivf_sq_encode(full, idx).collect()
        }
        batch = ivf_sq_encode(full.where(F.col("vec_id") >= 30), idx)
        got = {
            r["id"]: (list(r["codes"]), r["__list"])
            for r in batch.collect()
        }
        assert set(got) == set(range(30, 40))
        for i, v in got.items():
            assert v == reference[i]
        # and the base rows re-encoded under the same index equal the
        # build's own coded rows
        built = {
            r["id"]: (list(r["codes"]), r["__list"])
            for r in coded_base.collect()
        }
        re_enc = {
            r["id"]: (list(r["codes"]), r["__list"])
            for r in ivf_sq_encode(base, idx).collect()
        }
        assert re_enc == built

    def test_plain_index_rejected(self, spark):
        from ons_utils_spark.operators.similarity import (
            ivf_sq_encode, make_sq_index,
        )

        df = spark.createDataFrame(
            [(1, [0.5, 0.5])], "vec_id bigint, embedding array<float>"
        )
        idx = make_sq_index([], [0.0, 0.0], [1.0, 1.0])
        with pytest.raises(ValueError, match="plain-SQ"):
            ivf_sq_encode(df, idx)


class TestNormalizeEmbeddings:
    def test_unit_norm_and_order_preserved(self, spark):
        from ons_utils_spark.operators.similarity import (
            cosine_topk, normalize_embeddings,
        )

        df = _vectors(spark)
        out = normalize_embeddings(df).collect()
        import math

        for r in out:
            n = math.sqrt(sum(x * x for x in r["embedding"]))
            assert n == pytest.approx(1.0, abs=1e-12)
        # cosine ordering is invariant under normalization
        q = [1.0, 0.0, 0.0, 0.0]
        a = [r["id"] for r in cosine_topk(df, q, k=5).collect()]
        b = [
            r["id"]
            for r in cosine_topk(normalize_embeddings(df), q, k=5).collect()
        ]
        assert a == b

    def test_l2_equals_cosine_order_after_normalization(self, spark):
        """The operator's whole point: on the unit sphere, squared-L2
        ascending == cosine descending."""
        from ons_utils_spark.operators.similarity import normalize_embeddings

        rows = {
            r["id"]: [float(x) for x in r["embedding"]]
            for r in normalize_embeddings(_vectors(spark)).select(
                "vec_id", "embedding"
            ).withColumnRenamed("vec_id", "id").collect()
        }
        import math

        q = rows[1]
        by_l2 = sorted(
            (sum((a - b) ** 2 for a, b in zip(q, v)), i)
            for i, v in rows.items() if i != 1
        )
        by_cos = sorted(
            (-sum(a * b for a, b in zip(q, v)), i)
            for i, v in rows.items() if i != 1
        )
        assert [i for _, i in by_l2] == [i for _, i in by_cos]

    def test_zero_vector_raises(self, spark):
        from ons_utils_spark.operators.similarity import normalize_embeddings

        df = spark.createDataFrame(
            [(1, [0.0, 0.0])], "vec_id bigint, embedding array<float>"
        )
        with pytest.raises(Exception, match="zero-norm"):
            normalize_embeddings(df).collect()

    def test_out_col_keeps_original(self, spark):
        from ons_utils_spark.operators.similarity import normalize_embeddings

        df = _vectors(spark)
        out = normalize_embeddings(df, out_col="unit").columns
        assert "embedding" in out and "unit" in out

    def test_null_vector_or_element_raises(self, spark):
        """ADVICE r11: NULL arrays / NULL elements must raise like the
        zero vector does, not flow a silent NULL output vector."""
        from ons_utils_spark.operators.similarity import normalize_embeddings

        null_arr = spark.createDataFrame(
            [(1, None)], "vec_id bigint, embedding array<float>"
        )
        with pytest.raises(Exception, match="NULL"):
            normalize_embeddings(null_arr).collect()
        null_el = spark.createDataFrame(
            [(1, [1.0, None])], "vec_id bigint, embedding array<float>"
        )
        with pytest.raises(Exception, match="NULL"):
            normalize_embeddings(null_el).collect()

    def test_user_norm_column_survives(self, spark):
        """ADVICE r11: the internal temp column must not clobber (or
        silently drop) a user column literally named __norm."""
        from pyspark.sql import functions as F

        from ons_utils_spark.operators.similarity import normalize_embeddings

        df = _vectors(spark).withColumn("__norm", F.lit(42.0))
        out = normalize_embeddings(df, out_col="unit")
        assert "__norm" in out.columns
        assert out.select("__norm").distinct().collect()[0][0] == 42.0


class TestSqTrainGuards:
    def test_short_vector_names_dimension(self, spark):
        """ADVICE r11: vectors shorter than dim must raise a sized
        error naming the dimension, not a raw float(None) TypeError
        (and never train a grid sq_encode would truncate against)."""
        from ons_utils_spark.operators.similarity import sq_train

        df = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0])],
            "vec_id bigint, embedding array<float>",
        )
        with pytest.raises(ValueError, match="not 3-dim"):
            sq_train(df, dim=3)

    def test_null_element_names_dimension(self, spark):
        from ons_utils_spark.operators.similarity import sq_train

        df = spark.createDataFrame(
            [(1, [1.0, None]), (2, [1.0, None])],
            "vec_id bigint, embedding array<float>",
        )
        with pytest.raises(ValueError, match="NULL"):
            sq_train(df, dim=2)


def _sq_split_store(spark, tmp_path, n=40, dim=8):
    """Index trained on the FULL corpus; base save holds the front
    half, the back half arrives later as appends — the SQ twin of
    test_pq.TestIvfPqTableAppend._split_store."""
    from ons_utils_spark.operators.similarity import (
        ivf_sq_build, make_sq_index, save_sq_table,
    )

    vecs = [
        [((i * 7 + j * 3) % 11) / 10.0 for j in range(dim)]
        for i in range(n)
    ]
    full = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    coded, coarse, vmin, vmax = ivf_sq_build(
        full, dim=dim, n_lists=4, coarse_iter=1
    )
    idx = make_sq_index(coarse, vmin, vmax)
    path = str(tmp_path / "serve")
    save_sq_table(coded.where("id < 20"), idx, path)
    return vecs, full, coded, idx, path


class TestSqTableAppend:
    """save_sq_table / ivf_sq_table_append / load_sq_table — the SQ
    serving-table maintenance parity with the PQ twin: union ≡ one-shot
    build, replay idempotence, pruning intact."""

    def test_append_union_equals_oneshot(self, spark, tmp_path):
        from ons_utils_spark.operators import similarity as sim

        vecs, full, coded, idx, path = _sq_split_store(spark, tmp_path)
        sim.ivf_sq_table_append(
            full.where("vec_id >= 20 and vec_id < 30"), path, batch_id=0
        )
        sim.ivf_sq_table_append(full.where("vec_id >= 30"), path, batch_id=1)
        lc, li = sim.load_sq_table(spark, path)
        assert li == idx
        got = sorted(
            (r["id"], tuple(r["codes"]), r["__list"]) for r in lc.collect()
        )
        want = sorted(
            (r["id"], tuple(r["codes"]), r["__list"])
            for r in coded.collect()
        )
        assert got == want
        grown = sim.ivf_sq_query(lc, li, vecs[25], n_probe=2, topk=8)
        fresh = sim.ivf_sq_query(coded, li, vecs[25], n_probe=2, topk=8)
        assert [tuple(r) for r in grown.collect()] == [
            tuple(r) for r in fresh.collect()
        ]

    def test_replay_same_batch_id_is_idempotent(self, spark, tmp_path):
        from ons_utils_spark.operators import similarity as sim

        vecs, full, coded, idx, path = _sq_split_store(spark, tmp_path)
        batch = full.where("vec_id >= 20")
        sim.ivf_sq_table_append(batch, path, batch_id=3)
        sim.ivf_sq_table_append(batch, path, batch_id=3)  # replay
        lc, _ = sim.load_sq_table(spark, path)
        assert lc.count() == 40
        assert lc.select("id").distinct().count() == 40

    def test_empty_replay_truncates_own_partition(self, spark, tmp_path):
        from ons_utils_spark.operators import similarity as sim

        vecs, full, coded, idx, path = _sq_split_store(spark, tmp_path)
        sim.ivf_sq_table_append(full.where("vec_id >= 20"), path, batch_id=5)
        lc, _ = sim.load_sq_table(spark, path)
        assert lc.count() == 40
        # The replay's rows now filter to empty — it must still erase
        # the first attempt's partition (the replay-truncate rule).
        sim.ivf_sq_table_append(full.where("vec_id < 0"), path, batch_id=5)
        lc, _ = sim.load_sq_table(spark, path)
        assert lc.count() == 20

    def test_sentinel_append_lands_and_serves(self, spark, tmp_path):
        from ons_utils_spark.operators import similarity as sim

        vecs, full, coded, idx, path = _sq_split_store(spark, tmp_path)
        sim.ivf_sq_table_append(full.where("vec_id >= 20"), path)
        lc, _ = sim.load_sq_table(spark, path)
        assert lc.count() == 40

    def test_probe_pruning_survives_appends(self, spark, tmp_path):
        from ons_utils_spark.operators import similarity as sim

        vecs, full, coded, idx, path = _sq_split_store(spark, tmp_path)
        sim.ivf_sq_table_append(full.where("vec_id >= 20"), path, batch_id=0)
        lc, li = sim.load_sq_table(spark, path)
        plan = sim.ivf_sq_query(
            lc, li, vecs[2], n_probe=2, topk=5
        )._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "__list" in plan.split("PartitionFilters", 1)[1][:200]

    def test_bad_batches_rejected_before_write(self, spark, tmp_path):
        from ons_utils_spark.operators import similarity as sim

        vecs, full, coded, idx, path = _sq_split_store(spark, tmp_path)
        with pytest.raises(ValueError, match="empty"):
            sim.ivf_sq_table_append(full.where("vec_id < 0"), path)
        short = spark.createDataFrame(
            [(99, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
        )
        with pytest.raises(ValueError, match="8-dim"):
            sim.ivf_sq_table_append(short, path, batch_id=0)
        nul = spark.createDataFrame(
            [(99, [1.0, None, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])],
            "vec_id bigint, embedding array<double>",
        )
        with pytest.raises(ValueError, match="NULL"):
            sim.ivf_sq_table_append(nul, path, batch_id=0)
        with pytest.raises(ValueError, match="batch_id"):
            sim.ivf_sq_table_append(
                full.where("vec_id >= 20"), path, batch_id=-2
            )
        lc, _ = sim.load_sq_table(spark, path)
        assert lc.count() == 20

    def test_index_only_store_refused(self, spark, tmp_path):
        """A save_sq_index store (no coded-generation commit record) is
        not a serving table — loads, appends and deletes must say so."""
        from ons_utils_spark.operators import similarity as sim

        vecs, full, coded, idx, path = _sq_split_store(spark, tmp_path)
        iopath = str(tmp_path / "index_only")
        sim.save_sq_index(spark, idx, f"{iopath}/index")
        with pytest.raises(ValueError, match="index-only"):
            sim.load_sq_table(spark, iopath)
        with pytest.raises(ValueError, match="index-only"):
            sim.ivf_sq_table_append(full.limit(1), iopath, batch_id=0)
        with pytest.raises(ValueError, match="index-only"):
            sim.ivf_sq_table_delete(spark, iopath, [0], batch_id=0)

    def test_resave_never_tears_live_generation(self, spark, tmp_path):
        """Same-index re-save writes a FRESH nonce-keyed generation and
        re-commits — the old directory is never overwritten in place."""
        from ons_utils_spark.operators import similarity as sim

        vecs, full, coded, idx, path = _sq_split_store(spark, tmp_path)
        sim.save_sq_table(coded, idx, path)  # full re-save, same index
        lc, li = sim.load_sq_table(spark, path)
        assert li == idx and lc.count() == 40

    def test_out_of_grid_appends_clamp_not_error(self, spark, tmp_path):
        """Vectors outside the trained grid clamp to the edges (FAISS
        SQ out-of-sample rule) — the reason a stale grid stays
        serviceable as the corpus drifts."""
        from ons_utils_spark.operators import similarity as sim

        vecs, full, coded, idx, path = _sq_split_store(spark, tmp_path)
        wild = spark.createDataFrame(
            [(99, [99.0] * 8), (100, [-99.0] * 8)],
            "vec_id bigint, embedding array<double>",
        )
        sim.ivf_sq_table_append(wild, path, batch_id=0)
        lc, _ = sim.load_sq_table(spark, path)
        rows = {r["id"]: list(r["codes"]) for r in lc.collect()}
        assert rows[99] == [255] * 8
        assert rows[100] == [0] * 8


class TestIvfSqTableCompact:
    def test_compact_preserves_values_and_layout(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from ons_utils_spark.operators import similarity as sim
        from ons_utils_spark.sources.store import coded_table_generation

        vecs, full, coded, idx, path = _sq_split_store(spark, tmp_path)
        sim.ivf_sq_table_append(
            full.where("vec_id >= 20 and vec_id < 30"), path, batch_id=0
        )
        sim.ivf_sq_table_append(full.where("vec_id >= 30"), path, batch_id=1)
        before = sorted(
            map(tuple, sim.load_sq_table(spark, path)[0].collect())
        )
        sim.ivf_sq_table_compact(spark, path)
        lc, li = sim.load_sq_table(spark, path)
        assert sorted(map(tuple, lc.collect())) == before
        assert li == idx
        # All rows collapsed into the sentinel batch partition.
        gen_dir = coded_table_generation(sim.SQ_CODEC, spark, path)[1]
        raw = spark.read.parquet(f"{path}/coded_{gen_dir}")
        assert raw.select("batch_id").distinct().collect()[0][0] == -1
        # A post-compaction append still folds in.
        wild = spark.createDataFrame(
            [(99, [0.5] * 8)], "vec_id bigint, embedding array<double>"
        )
        sim.ivf_sq_table_append(wild, path, batch_id=7)
        assert sim.load_sq_table(spark, path)[0].count() == 41


class TestIvfSqBatchTopk:
    """ivf_sq_batch_topk — the batch scorer completing SQ serving
    parity: per query bit-identical to the single-query path."""

    def _built(self, spark):
        from ons_utils_spark.operators import similarity as sim

        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<float>",
        )
        coded, coarse, vmin, vmax = sim.ivf_sq_build(
            df, dim=8, n_lists=4, coarse_iter=1
        )
        return vecs, coded, sim.make_sq_index(coarse, vmin, vmax)

    def test_batch_matches_single_query_bitwise(self, spark):
        from ons_utils_spark.operators import similarity as sim

        vecs, coded, idx = self._built(spark)
        qids = [0, 7, 13]
        qdf = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in qids],
            "query_id bigint, embedding array<double>",
        )
        batch = {
            (r["query_id"], r["id"], r["adc_dist"])
            for r in sim.ivf_sq_batch_topk(
                coded, idx, qdf, n_probe=2, topk=6
            ).collect()
        }
        singles = set()
        for i in qids:
            for r in sim.ivf_sq_query(
                coded, idx, vecs[i], n_probe=2, topk=6
            ).collect():
                singles.add((i, r["id"], r["adc_dist"]))
        assert batch == singles

    def test_full_probe_batch_is_exact_sq_scan(self, spark):
        from ons_utils_spark.operators import similarity as sim

        vecs, coded, idx = self._built(spark)
        qdf = spark.createDataFrame(
            [(3, [float(x) for x in vecs[3]])],
            "query_id bigint, embedding array<double>",
        )
        batch = sim.ivf_sq_batch_topk(
            coded, idx, qdf, n_probe=4, topk=40
        ).collect()
        plain = sim.sq_adc_topk(
            coded, idx.vmin, idx.vmax, vecs[3], topk=40
        ).collect()
        assert sorted((r["id"], r["adc_dist"]) for r in batch) == sorted(
            (r["id"], r["adc_dist"]) for r in plain
        )

    def test_query_validation(self, spark):
        from ons_utils_spark.operators import similarity as sim

        vecs, coded, idx = self._built(spark)
        dup = spark.createDataFrame(
            [(1, [0.0] * 8), (1, [0.1] * 8)],
            "query_id bigint, embedding array<double>",
        )
        with pytest.raises(ValueError, match="duplicate"):
            sim.ivf_sq_batch_topk(coded, idx, dup)
        short = spark.createDataFrame(
            [(1, [0.0, 1.0])], "query_id bigint, embedding array<double>"
        )
        with pytest.raises(ValueError, match="dim"):
            sim.ivf_sq_batch_topk(coded, idx, short)
        nul = spark.createDataFrame(
            [(1, None)], "query_id bigint, embedding array<double>"
        )
        with pytest.raises(ValueError, match="NULL"):
            sim.ivf_sq_batch_topk(coded, idx, nul)
        empty = spark.createDataFrame(
            [], "query_id bigint, embedding array<double>"
        )
        with pytest.raises(ValueError, match="empty"):
            sim.ivf_sq_batch_topk(coded, idx, empty)

    def test_null_codes_raise_descriptively(self, spark):
        from pyspark.sql import functions as F
        from pyspark.errors import PythonException

        from ons_utils_spark.operators import similarity as sim

        vecs, coded, idx = self._built(spark)
        poisoned = coded.withColumn(
            "codes",
            F.when(
                F.col("id") == 3, F.lit(None).cast("array<int>")
            ).otherwise(F.col("codes")),
        )
        qdf = spark.createDataFrame(
            [(1, [float(x) for x in vecs[3]])],
            "query_id bigint, embedding array<double>",
        )
        with pytest.raises(Exception, match="NULL codes entry at id 3"):
            sim.ivf_sq_batch_topk(
                poisoned, idx, qdf, n_probe=4, topk=5
            ).collect()

    def test_single_query_null_codes_raise_too(self, spark):
        """The single-query zip_with fold must fail as loudly as the
        batch Arrow path — a NULL distance would asc-sort FIRST and
        silently top the list."""
        from pyspark.sql import functions as F

        from ons_utils_spark.operators import similarity as sim

        vecs, coded, idx = self._built(spark)
        poisoned = coded.withColumn(
            "codes",
            F.when(
                F.col("id") == 3, F.lit(None).cast("array<int>")
            ).otherwise(F.col("codes")),
        )
        with pytest.raises(Exception, match="NULL codes entry at id 3"):
            sim.sq_adc_topk(
                poisoned, idx.vmin, idx.vmax, vecs[3], topk=5
            ).collect()


class TestSqBitWidths:
    """bits parameter (FAISS SQ4/SQ6/SQ8) through the SQ family."""

    def _df(self, spark):
        return spark.createDataFrame(
            [
                (1, [0.0, 10.0, 5.0]),
                (2, [1.0, 20.0, 5.0]),
                (3, [0.5, 15.0, 5.0]),
            ],
            "vec_id bigint, embedding array<float>",
        )

    def test_sq4_codes_are_16_level(self, spark):
        from ons_utils_spark.operators.similarity import sq_encode, sq_train

        df = self._df(spark)
        vmin, vmax = sq_train(df, dim=3)
        rows = {
            r["id"]: list(r["codes"])
            for r in sq_encode(df, vmin, vmax, bits=4).collect()
        }
        # dim 0: range [0,1], delta 1/15 -> codes 0, 15, round(0.5*15)=8
        # (floor(7.5+0.5)=8); dim 2 constant -> 0
        assert rows[1] == [0, 0, 0]
        assert rows[2] == [15, 15, 0]
        assert rows[3] == [8, 8, 0]

    def test_adc_decodes_on_the_matching_grid(self, spark):
        import math

        from ons_utils_spark.operators.similarity import (
            sq_adc_topk, sq_encode, sq_train,
        )

        df = self._df(spark)
        vmin, vmax = sq_train(df, dim=3)
        codes = sq_encode(df, vmin, vmax, bits=4)
        got = {
            r["id"]: r["adc_dist"]
            for r in sq_adc_topk(
                codes, vmin, vmax, [0.0, 10.0, 5.0], topk=3, bits=4
            ).collect()
        }
        deltas = [(mx - mn) / 15 if mx > mn else 0.0
                  for mn, mx in zip(vmin, vmax)]
        raw = {1: [0.0, 10.0, 5.0], 2: [1.0, 20.0, 5.0],
               3: [0.5, 15.0, 5.0]}
        enc = {
            i: [min(max(math.floor((x - mn) / d + 0.5), 0), 15) if d else 0
                for x, mn, d in zip(v, vmin, deltas)]
            for i, v in raw.items()
        }
        for i, cs in enc.items():
            dec = [mn + c * d for c, mn, d in zip(cs, vmin, deltas)]
            want = round(sum((a - b) ** 2
                             for a, b in zip(raw[1], dec)), 6)
            assert got[i] == want

    def test_bits_validated(self, spark):
        from ons_utils_spark.operators.similarity import sq_encode, sq_train

        df = self._df(spark)
        vmin, vmax = sq_train(df, dim=3)
        with pytest.raises(ValueError, match="bits"):
            sq_encode(df, vmin, vmax, bits=1)
        with pytest.raises(ValueError, match="bits"):
            sq_encode(df, vmin, vmax, bits=17)

    def test_sq4_index_round_trip_and_serving(self, spark, tmp_path):
        """A bits=4 SqIndex survives save/load (meta carries bits, the
        fingerprint includes it), and the whole serving-table chain —
        save_sq_table, append (encode with the STORED 4-bit grid),
        batch scorer — runs on the 4-bit geometry."""
        from ons_utils_spark.operators import similarity as sim

        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        full = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<float>",
        )
        coded, coarse, vmin, vmax = sim.ivf_sq_build(
            full, dim=8, n_lists=4, coarse_iter=1, bits=4
        )
        assert all(
            all(0 <= c <= 15 for c in r["codes"]) for r in coded.collect()
        )
        idx = sim.make_sq_index(coarse, vmin, vmax, bits=4)
        assert idx.bits == 4
        path = str(tmp_path / "sq4")
        sim.save_sq_table(coded.where("id < 30"), idx, path)
        sim.ivf_sq_table_append(full.where("vec_id >= 30"), path, batch_id=0)
        lc, li = sim.load_sq_table(spark, path)
        assert li == idx and li.bits == 4
        # grown table == one-shot encode under the stored 4-bit grid
        got = sorted(map(tuple, lc.collect()))
        want = sorted(map(tuple, sim.ivf_sq_encode(full, idx).collect()))
        assert got == want
        # batch == single on the 4-bit geometry
        qdf = spark.createDataFrame(
            [(5, [float(x) for x in vecs[5]])],
            "query_id bigint, embedding array<double>",
        )
        batch = sim.ivf_sq_batch_topk(lc, li, qdf, n_probe=2, topk=6)
        single = sim.ivf_sq_query(lc, li, vecs[5], n_probe=2, topk=6)
        assert sorted((r["id"], r["adc_dist"]) for r in batch.collect()) \
            == sorted((r["id"], r["adc_dist"]) for r in single.collect())

    def test_sq8_fingerprint_unchanged_by_bits_field(self, spark):
        """Every pre-r12 SQ8 store must keep validating: the default
        bit width joins the fingerprint payload ONLY when non-8."""
        from ons_utils_spark.operators.similarity import (
            _sq_fingerprint, make_sq_index,
        )

        mn, mx = [0.0, -1.0], [1.0, 2.0]
        legacy_style = _sq_fingerprint([], mn, mx, 6)  # no bits arg
        assert make_sq_index([], mn, mx).fingerprint == legacy_style
        assert make_sq_index([], mn, mx, bits=4).fingerprint != legacy_style


class TestIvfSqResidual:
    """by_residual=True through the SQ family — FAISS
    IndexIVFScalarQuantizer's default mode."""

    def _built(self, spark, bits=8):
        from ons_utils_spark.operators import similarity as sim

        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        full = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<float>",
        )
        coded, coarse, vmin, vmax = sim.ivf_sq_build(
            full, dim=8, n_lists=4, coarse_iter=1, bits=bits,
            by_residual=True,
        )
        idx = sim.make_sq_index(
            coarse, vmin, vmax, bits=bits, by_residual=True
        )
        return vecs, full, coded, coarse, vmin, vmax, idx

    def test_grid_trains_on_residuals(self, spark):
        """The residual grid is centered near the origin — its range
        must be strictly narrower than the raw grid's on this fixture
        (that narrowing IS the mechanism of the recall gain)."""
        from ons_utils_spark.operators import similarity as sim

        vecs, full, coded, coarse, vmin, vmax, idx = self._built(spark)
        raw_vmin, raw_vmax = sim.sq_train(full, dim=8)
        assert sum(mx - mn for mn, mx in zip(vmin, vmax)) < sum(
            mx - mn for mn, mx in zip(raw_vmin, raw_vmax)
        )

    def test_exact_on_grid_distances(self, spark):
        """Residual ADC distance == manually decoded residual distance
        (python floats replaying the expression's op order)."""
        import math

        from ons_utils_spark.operators import similarity as sim
        from ons_utils_spark.operators.semantic import _py_dot

        vecs, full, coded, coarse, vmin, vmax, idx = self._built(spark)
        q = vecs[5]
        got = {
            r["id"]: r["adc_dist"]
            for r in sim.ivf_sq_topk(
                coded, coarse, vmin, vmax, q, n_probe=4, topk=40,
                by_residual=True,
            ).collect()
        }
        deltas = [(mx - mn) / 255 if mx > mn else 0.0
                  for mn, mx in zip(vmin, vmax)]
        rows = {r["id"]: (list(r["codes"]), r["__list"])
                for r in coded.collect()}
        for i, (cs, lst) in rows.items():
            qr = [a - b for a, b in zip(q, coarse[lst])]
            dec = [mn + c * d for c, mn, d in zip(cs, vmin, deltas)]
            want = 0.0
            for a, b in zip(qr, dec):
                want += (a - b) * (a - b)
            assert got[i] == round(want, 6), i

    def test_wrong_flag_raises_via_metadata_tag(self, spark):
        from ons_utils_spark.operators import similarity as sim

        vecs, full, coded, coarse, vmin, vmax, idx = self._built(spark)
        reshaped = coded.select("id", "codes", "__list")
        with pytest.raises(ValueError, match="by_residual"):
            sim.ivf_sq_topk(reshaped, coarse, vmin, vmax, vecs[0])
        with pytest.raises(ValueError, match="by_residual"):
            sim.save_sq_table(
                coded, sim.make_sq_index(coarse, vmin, vmax), "/tmp/x"
            )

    def test_store_roundtrip_append_and_batch(self, spark, tmp_path):
        from ons_utils_spark.operators import similarity as sim

        vecs, full, coded, coarse, vmin, vmax, idx = self._built(spark)
        path = str(tmp_path / "res")
        sim.save_sq_table(coded.where("id < 30"), idx, path)
        sim.ivf_sq_table_append(full.where("vec_id >= 30"), path, batch_id=0)
        lc, li = sim.load_sq_table(spark, path)
        assert li == idx and li.by_residual
        got = sorted(map(tuple, lc.collect()))
        want = sorted(map(tuple, sim.ivf_sq_encode(full, idx).collect()))
        assert got == want
        qdf = spark.createDataFrame(
            [(5, [float(x) for x in vecs[5]]),
             (9, [float(x) for x in vecs[9]])],
            "query_id bigint, embedding array<double>",
        )
        batch = {
            (r["query_id"], r["id"], r["adc_dist"])
            for r in sim.ivf_sq_batch_topk(
                lc, li, qdf, n_probe=2, topk=6
            ).collect()
        }
        singles = set()
        for qid in (5, 9):
            for r in sim.ivf_sq_query(
                lc, li, vecs[qid], n_probe=2, topk=6
            ).collect():
                singles.add((qid, r["id"], r["adc_dist"]))
        assert batch == singles

    def test_plain_sq_index_rejects_residual(self, spark):
        from ons_utils_spark.operators import similarity as sim

        with pytest.raises(ValueError, match="residual"):
            sim.make_sq_index([], [0.0], [1.0], by_residual=True)

    def test_residual_fingerprint_distinct_and_sq8_stable(self, spark):
        from ons_utils_spark.operators.similarity import (
            _sq_fingerprint, make_sq_index,
        )

        coarse = [[0.0, 0.0], [1.0, 1.0]]
        mn, mx = [0.0, -1.0], [1.0, 2.0]
        raw = make_sq_index(coarse, mn, mx)
        res = make_sq_index(coarse, mn, mx, by_residual=True)
        assert raw.fingerprint != res.fingerprint
        assert raw.fingerprint == _sq_fingerprint(coarse, mn, mx, 6)
