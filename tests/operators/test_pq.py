"""Tests for product quantization (operators/pq.py)."""

import math

import pytest

from ons_utils_spark.operators import pq


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )


# 8-dim vectors, m=2 subspaces of 4: first half encodes an "x or y"
# pattern, second half an independent "a or b" pattern — so the two
# subspace codebooks must quantize independently.
VECS = [
    [1, 0, 0, 0, 0, 0, 0, 1],
    [1, 0, 0, 0, 0, 0, 1, 0],
    [0, 1, 0, 0, 0, 0, 0, 1],
    [0, 1, 0, 0, 0, 0, 1, 0],
    [1, 0, 0, 0, 0, 0, 0, 1],  # dup of row 0
]


class TestPqBuild:
    def test_codes_shape_and_range(self, spark):
        df = _emb_df(spark, VECS)
        codes, cbs = pq.pq_build(df, dim=8, m=2, k=2, n_iter=1)
        assert len(cbs) == 2 and all(len(cb) == 2 for cb in cbs)
        assert all(len(c) == 4 for cb in cbs for c in cb)
        rows = codes.orderBy("id").collect()
        assert len(rows) == len(VECS)
        assert all(0 <= v < 2 for r in rows for v in r["codes"])

    def test_identical_vectors_identical_codes(self, spark):
        df = _emb_df(spark, VECS)
        codes, _ = pq.pq_build(df, dim=8, m=2, k=2, n_iter=1)
        by_id = {r["id"]: list(r["codes"]) for r in codes.collect()}
        assert by_id[0] == by_id[4]

    def test_subspaces_quantize_independently(self, spark):
        # Rows 0 and 1 share the first half but differ in the second;
        # rows 0 and 2 differ in the first half but share the second.
        df = _emb_df(spark, VECS)
        codes, _ = pq.pq_build(df, dim=8, m=2, k=2, n_iter=1)
        by_id = {r["id"]: list(r["codes"]) for r in codes.collect()}
        assert by_id[0][0] == by_id[1][0]
        assert by_id[0][1] != by_id[1][1]
        assert by_id[0][0] != by_id[2][0]
        assert by_id[0][1] == by_id[2][1]

    def test_blas_encode_matches_literal(self, spark):
        df = _emb_df(spark, VECS)
        lit_codes, lit_cbs = pq.pq_build(
            df, dim=8, m=2, k=2, n_iter=1, method="literal")
        blas_codes, blas_cbs = pq.pq_build(
            df, dim=8, m=2, k=2, n_iter=1, method="blas")
        assert lit_cbs == blas_cbs
        lit = {r["id"]: list(r["codes"]) for r in lit_codes.collect()}
        blas = {r["id"]: list(r["codes"]) for r in blas_codes.collect()}
        assert lit == blas

    def test_vector_encode_bit_identical_to_literal(self, spark):
        # The r13 default ("auto" -> "vector") encode engine must equal
        # the literal-codegen argmin EXACTLY — codes and codebooks.
        df = _emb_df(spark, VECS)
        lit_codes, lit_cbs = pq.pq_build(
            df, dim=8, m=2, k=2, n_iter=1, method="literal")
        vec_codes, vec_cbs = pq.pq_build(
            df, dim=8, m=2, k=2, n_iter=1, method="vector")
        assert lit_cbs == vec_cbs
        lit = {r["id"]: list(r["codes"]) for r in lit_codes.collect()}
        vec = {r["id"]: list(r["codes"]) for r in vec_codes.collect()}
        assert lit == vec
        auto_codes, auto_cbs = pq.pq_build(df, dim=8, m=2, k=2, n_iter=1)
        assert auto_cbs == lit_cbs
        assert {r["id"]: list(r["codes"])
                for r in auto_codes.collect()} == lit

    def test_bad_geometry_raises(self, spark):
        df = _emb_df(spark, VECS)
        with pytest.raises(ValueError, match="must divide"):
            pq.pq_build(df, dim=8, m=3)


class TestFusedSubspaceTraining:
    """The r13 fused trainer (_train_subspace_codebooks) must be
    bit-identical to the m sequential kmeans_lloyd calls it replaced —
    same seeds (one shared (id-hash, id) order), same decimal means,
    same empty-cluster fallback."""

    def _slices(self, spark, vecs, m, dim):
        from pyspark.sql import functions as F

        sub_d = dim // m
        df = _emb_df(spark, vecs)
        return df.select(
            F.col("vec_id").alias("id"),
            *[
                F.slice(F.col("embedding"), i * sub_d + 1, sub_d).alias(
                    f"sub{i}"
                )
                for i in range(m)
            ],
        )

    @pytest.mark.parametrize("method", ["literal", "blas"])
    @pytest.mark.parametrize("n_iter", [1, 2])
    def test_matches_sequential_kmeans(self, spark, method, n_iter):
        from pyspark.sql import functions as F

        from ons_utils_spark.operators.semantic import kmeans_lloyd

        m, k, dim = 2, 2, 8
        slices = self._slices(spark, VECS, m, dim)
        fused = pq._train_subspace_codebooks(
            slices, m, k, n_iter, 6, method
        )
        seq = []
        for i in range(m):
            sub = slices.select("id", F.col(f"sub{i}").alias("vec"))
            _, cents = kmeans_lloyd(
                sub, "id", "vec", k=k, n_iter=n_iter,
                round_dp=6, method=method,
            )
            seq.append(cents)
        assert fused == seq

    def test_too_few_training_rows_raises(self, spark):
        slices = self._slices(spark, VECS[:2], 2, 8)
        with pytest.raises(ValueError, match="exceeds the number"):
            pq._train_subspace_codebooks(slices, 2, 3, 1, 6, "literal")

    def test_empty_cluster_keeps_seed(self, spark):
        # Two identical vectors: with k=2 one cluster gets every row and
        # the other stays empty — its centroid must remain its seed,
        # exactly as the sequential path behaves.
        from pyspark.sql import functions as F

        from ons_utils_spark.operators.semantic import kmeans_lloyd

        vecs = [[1, 0, 0, 0, 0, 0, 0, 1]] * 2
        slices = self._slices(spark, vecs, 2, 8)
        fused = pq._train_subspace_codebooks(slices, 2, 2, 1, 6, "literal")
        seq = []
        for i in range(2):
            sub = slices.select("id", F.col(f"sub{i}").alias("vec"))
            _, cents = kmeans_lloyd(
                sub, "id", "vec", k=2, n_iter=1, round_dp=6,
                method="literal",
            )
            seq.append(cents)
        assert fused == seq


class TestAdc:
    def test_self_query_is_nearest(self, spark):
        df = _emb_df(spark, VECS)
        codes, cbs = pq.pq_build(df, dim=8, m=2, k=2, n_iter=1)
        top = pq.pq_adc_topk(codes, cbs, VECS[1], topk=1).collect()
        assert top[0]["id"] == 1

    def test_adc_equals_exact_distance_to_reconstruction(self, spark):
        """ADC score == exact squared L2 between the query and the
        vector's reconstruction from its codebook entries."""
        df = _emb_df(spark, VECS)
        codes, cbs = pq.pq_build(df, dim=8, m=2, k=2, n_iter=1)
        q = VECS[3]
        scored = {r["id"]: r["adc_dist"]
                  for r in pq.pq_adc_scores(codes, cbs, q).collect()}
        by_id = {r["id"]: list(r["codes"]) for r in codes.collect()}
        for i, code in by_id.items():
            recon = [x for s, c in enumerate(code) for x in cbs[s][c]]
            exact = sum((a - b) ** 2 for a, b in zip(q, recon))
            assert scored[i] == pytest.approx(exact, abs=1e-5)

    def test_wrong_query_dim_raises(self, spark):
        df = _emb_df(spark, VECS)
        codes, cbs = pq.pq_build(df, dim=8, m=2, k=2, n_iter=1)
        with pytest.raises(ValueError, match="query dim"):
            pq.pq_adc_topk(codes, cbs, [1.0, 2.0], topk=1)


class TestIdTypeGenerality:
    def test_blas_encode_preserves_int_id(self, spark):
        """The blas path must accept whatever id type the literal path
        does — it used to hardcode LongType."""
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(VECS)],
            "vec_id int, embedding array<float>",
        )
        codes, _ = pq.pq_build(df, dim=8, m=2, k=2, n_iter=1, method="blas")
        assert dict(codes.dtypes)["id"] == "int"
        assert codes.count() == len(VECS)


class TestIvfPq:
    """ivf_pq_build / ivf_pq_topk — the composed FAISS-style serving
    shape: deterministic coarse lists + PQ codes + probed ADC scan."""

    def _spread(self, spark, n=40, dim=8):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(dim)]
            for i in range(n)
        ]
        return _emb_df(spark, vecs), vecs

    def test_coded_carries_list_matching_coarse_kmeans(self, spark):
        from ons_utils_spark.operators.semantic import kmeans_lloyd

        df, _ = self._spread(spark)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        assert set(coded.columns) == {"id", "codes", "__list"}
        assigned, cents = kmeans_lloyd(df, k=4, n_iter=1)
        assert cents == coarse
        want = {r["vec_id"]: r["__cluster"] for r in assigned.collect()}
        got = {r["id"]: r["__list"] for r in coded.collect()}
        assert got == want

    def test_full_probe_degenerates_to_pq_scan(self, spark):
        df, vecs = self._spread(spark)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        q = vecs[0]
        ivf = pq.ivf_pq_topk(
            coded, coarse, cbs, q, n_probe=4, topk=40
        ).collect()
        plain = pq.pq_adc_topk(coded, cbs, q, topk=40).collect()
        assert [(r["id"], r["adc_dist"]) for r in ivf] == [
            (r["id"], r["adc_dist"]) for r in plain
        ]

    def test_probe_restricts_scan_to_nearest_lists(self, spark):
        df, vecs = self._spread(spark)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        from ons_utils_spark.operators.semantic import _py_dot

        q = vecs[3]
        qq = _py_dot(q, q)
        probe = sorted(
            (qq + _py_dot(c, c) - 2 * _py_dot(q, c), j)
            for j, c in enumerate(coarse)
        )[0][1]
        got_ids = {
            r["id"]
            for r in pq.ivf_pq_topk(
                coded, coarse, cbs, q, n_probe=1, topk=40
            ).collect()
        }
        from pyspark.sql import functions as F

        member_ids = {
            r["id"] for r in coded.where(F.col("__list") == probe).collect()
        }
        assert got_ids == member_ids  # topk >= list size: exact list scan


class TestSampledTraining:
    """train_on: codebooks fit on a deterministic slice, the FULL corpus
    still encoded — the documented 100 TB practice, now expressible."""

    def test_fraction_equals_explicit_hash_subset(self, spark):
        from pyspark.sql import functions as F

        df = _emb_df(
            spark,
            [[(i * 5 + j) % 7 / 3.0 for j in range(8)] for i in range(30)],
        )
        subset = df.where(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(1_000_000))
            < F.lit(500_000)
        )
        frac_codes, frac_cbs = pq.pq_build(
            df, dim=8, m=2, k=2, n_iter=1, train_on=0.5
        )
        df_codes, df_cbs = pq.pq_build(
            df, dim=8, m=2, k=2, n_iter=1, train_on=subset
        )
        assert frac_cbs == df_cbs
        assert frac_codes.count() == 30  # full corpus encoded
        a = {r["id"]: list(r["codes"]) for r in frac_codes.collect()}
        b = {r["id"]: list(r["codes"]) for r in df_codes.collect()}
        assert a == b

    def test_sample_trained_codes_are_nearest_centroid(self, spark):
        from ons_utils_spark.operators.semantic import _py_dot

        df = _emb_df(
            spark,
            [[(i * 5 + j) % 7 / 3.0 for j in range(8)] for i in range(30)],
        )
        codes, cbs = pq.pq_build(
            df, dim=8, m=2, k=2, n_iter=1, train_on=0.5
        )
        vecs = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in df.collect()
        }
        for r in codes.collect():
            for i in range(2):
                sub = vecs[r["id"]][i * 4:(i + 1) * 4]
                dists = [
                    _py_dot(sub, sub) + _py_dot(c, c) - 2 * _py_dot(sub, c)
                    for c in cbs[i]
                ]
                want = min(range(2), key=lambda j: (dists[j], j))
                assert r["codes"][i] == want

    def test_bad_fraction_raises(self, spark):
        df = _emb_df(spark, [[float(j) for j in range(8)]])
        with pytest.raises(ValueError, match="fraction"):
            pq.pq_build(df, dim=8, m=2, k=1, train_on=1.5)


class TestIvfPqPartitionPruning:
    def test_list_partitioned_probe_prunes_partitions(self, spark, tmp_path):
        """The serving claim made in ivf_pq_build's docstring, tested:
        coded written partitioned by __list -> an n_probe filter reads
        only the probed partition directories (partition pruning at the
        scan, not a post-scan filter)."""
        from pyspark.sql import functions as F

        from ons_utils_spark.sources.write import write_table

        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        df = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        path = str(tmp_path / "coded")
        write_table(coded, path, partition_by="__list")
        stored = spark.read.parquet(path)

        q = vecs[0]
        top = pq.ivf_pq_topk(stored, coarse, cbs, q, n_probe=1, topk=5)
        rows = top.collect()
        assert rows  # sanity: the probed list is non-empty
        plan = top._jdf.queryExecution().executedPlan().toString()
        # partition pruning: the __list predicate lands in the scan's
        # PartitionFilters (directory-level, pre-IO), NOT PushedFilters
        import re

        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert pf and "__list" in pf.group(1), plan[:800]
        # and the probed-list scan physically touches ONE directory
        from ons_utils_spark.operators.semantic import _py_dot

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
        # and the pruned probe agrees with the unpartitioned scan
        direct = pq.ivf_pq_topk(coded, coarse, cbs, q, n_probe=1, topk=5)
        assert [tuple(r) for r in rows] == [
            tuple(r) for r in direct.collect()
        ]


class TestIvfPqResidual:
    """by_residual=True — FAISS IVFADC: codebooks over vec − coarse
    centroid, per-probed-list query LUTs."""

    def _spread(self, spark, n=40, dim=8):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(dim)]
            for i in range(n)
        ]
        return _emb_df(spark, vecs), vecs

    def test_scores_match_python_reference(self, spark):
        from ons_utils_spark.operators.semantic import _py_dot

        df, vecs = self._spread(spark)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1,
            by_residual=True,
        )
        q = vecs[5]
        rows = pq.ivf_pq_topk(
            coded, coarse, cbs, q, n_probe=4, topk=40, by_residual=True
        ).collect()
        by_id = {r["id"]: (list(r["codes"]), r["__list"])
                 for r in coded.collect()}

        def expected(i):
            codes, lst = by_id[i]
            qr = [a - b for a, b in zip(q, coarse[lst])]
            s = None
            for si in range(2):
                qs = qr[si * 4:(si + 1) * 4]
                c = cbs[si][codes[si]]
                t = (_py_dot(qs, qs) + _py_dot(c, c)
                     - 2 * _py_dot(qs, c))
                s = t if s is None else s + t
            return round(s, 6)

        assert rows and all(
            abs(expected(r["id"]) - r["adc_dist"]) < 1e-9 for r in rows
        )

    def test_residual_reconstruction_tighter_than_raw(self, spark):
        """The point of residual encoding: the self-query's ADC
        distance (quantization error proxy) shrinks vs raw encoding."""
        from pyspark.sql import functions as F

        df, vecs = self._spread(spark)
        q = vecs[0]
        raw_coded, coarse_r, cbs_r = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        res_coded, coarse_s, cbs_s = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1,
            by_residual=True,
        )
        raw_self = {
            r["id"]: r["adc_dist"]
            for r in pq.ivf_pq_topk(
                raw_coded, coarse_r, cbs_r, q, n_probe=4, topk=40
            ).collect()
        }[0]
        res_self = {
            r["id"]: r["adc_dist"]
            for r in pq.ivf_pq_topk(
                res_coded, coarse_s, cbs_s, q, n_probe=4, topk=40,
                by_residual=True,
            ).collect()
        }[0]
        assert res_self <= raw_self

    def test_raw_train_frame_rejected(self, spark):
        import pytest

        df, _ = self._spread(spark)
        with pytest.raises(ValueError, match="residual"):
            pq.ivf_pq_build(
                df, dim=8, n_lists=4, m=2, k=2, by_residual=True,
                train_on=df,
            )

    def test_fraction_training_composes_with_residual(self, spark):
        df, vecs = self._spread(spark)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=2, m=2, k=2, coarse_iter=1, n_iter=1,
            by_residual=True, train_on=0.6,
        )
        assert coded.count() == 40  # full corpus still encoded
        rows = pq.ivf_pq_topk(
            coded, coarse, cbs, vecs[1], n_probe=2, topk=5,
            by_residual=True,
        ).collect()
        assert len(rows) == 5


class TestIvfPqGuards:
    def _build(self, spark, **kw):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        df = _emb_df(spark, vecs)
        return vecs, pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1, **kw
        )

    def test_geometry_flag_mismatch_raises(self, spark):
        vecs, (coded, coarse, cbs) = self._build(spark, by_residual=True)
        with pytest.raises(ValueError, match="by_residual"):
            pq.ivf_pq_topk(coded, coarse, cbs, vecs[0], n_probe=2)
        vecs, (coded, coarse, cbs) = self._build(spark)
        with pytest.raises(ValueError, match="by_residual"):
            pq.ivf_pq_topk(
                coded, coarse, cbs, vecs[0], n_probe=2, by_residual=True
            )

    def test_wrong_query_dim_raises_both_paths(self, spark):
        for flag in (False, True):
            vecs, (coded, coarse, cbs) = self._build(
                spark, by_residual=flag
            )
            with pytest.raises(ValueError, match="query dim"):
                pq.ivf_pq_topk(
                    coded, coarse, cbs, [1.0, 2.0], n_probe=2,
                    by_residual=flag,
                )

    def test_coarse_dim_mismatch_raises(self, spark):
        # A coarse table WIDER than the query would silently zip-truncate
        # in the probe-selection dots (and the residual subtraction),
        # probing the wrong lists — must raise instead.
        vecs, (coded, coarse, cbs) = self._build(spark)
        wide = [c + [0.0, 0.0] for c in coarse]
        with pytest.raises(ValueError, match="coarse centroid dim"):
            pq.ivf_pq_topk(coded, wide, cbs, vecs[0], n_probe=2)


class TestIndexPersistence:
    def _build(self, spark, by_residual=False):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        df = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1,
            by_residual=by_residual,
        )
        idx = pq.make_ivf_pq_index(coarse, cbs, by_residual=by_residual)
        return vecs, coded, idx

    def test_round_trip_bit_identical(self, spark, tmp_path):
        for flag in (False, True):
            vecs, coded, idx = self._build(spark, by_residual=flag)
            path = str(tmp_path / f"idx_{flag}")
            pq.save_ivf_pq_index(spark, idx, path)
            loaded = pq.load_ivf_pq_index(spark, path)
            # The whole artifact survives: geometry, flags, fingerprint,
            # every centroid double bit-for-bit.
            assert loaded == idx
            fresh = pq.ivf_pq_topk(
                coded, idx.coarse_centroids, idx.codebooks, vecs[3],
                n_probe=2, topk=5, by_residual=flag,
            ).collect()
            served = pq.ivf_pq_query(
                coded, loaded, vecs[3], n_probe=2, topk=5
            ).collect()
            assert [tuple(r) for r in served] == [tuple(r) for r in fresh]

    def test_loaded_flag_drives_scoring(self, spark, tmp_path):
        # The serving path takes by_residual from the STORED artifact —
        # no way to pass a mismatched flag, unlike the raw ivf_pq_topk
        # call whose Python-attribute guard dies on any transformation.
        vecs, coded, idx = self._build(spark, by_residual=True)
        path = str(tmp_path / "idx_res")
        pq.save_ivf_pq_index(spark, idx, path)
        loaded = pq.load_ivf_pq_index(spark, path)
        assert loaded.by_residual is True
        # Survives a transformation that strips the Python attribute.
        transformed = coded.select("id", "codes", "__list")
        got = pq.ivf_pq_query(
            transformed, loaded, vecs[0], n_probe=4, topk=3
        ).collect()
        assert len(got) == 3

    def test_corrupted_payload_fails_fingerprint(self, spark, tmp_path):
        vecs, coded, idx = self._build(spark)
        path = str(tmp_path / "idx")
        pq.save_ivf_pq_index(spark, idx, path)
        # Overwrite the vectors table with a single-ulp perturbation of
        # one centroid — same geometry, different content.
        bad_cbs = [
            [list(c) for c in cb] for cb in idx.codebooks
        ]
        import math

        bad_cbs[0][0][0] = math.nextafter(bad_cbs[0][0][0], math.inf)
        bad = pq.make_ivf_pq_index(
            idx.coarse_centroids, bad_cbs, idx.by_residual, idx.round_dp
        )
        rows = [
            ("coarse", -1, j, c)
            for j, c in enumerate(bad.coarse_centroids)
        ] + [
            ("codebook", i, j, c)
            for i, cb in enumerate(bad.codebooks)
            for j, c in enumerate(cb)
        ]
        spark.createDataFrame(
            rows,
            "component string, subspace int, idx int, vec array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/vectors")
        with pytest.raises(ValueError, match="fingerprint"):
            pq.load_ivf_pq_index(spark, path)

    def test_partial_save_rejected(self, spark, tmp_path):
        # meta/ is written last; a store without it (crash mid-save)
        # must not load.
        vecs, coded, idx = self._build(spark)
        path = str(tmp_path / "idx")
        pq.save_ivf_pq_index(spark, idx, path)
        import shutil

        shutil.rmtree(f"{path}/meta")
        with pytest.raises(Exception):
            pq.load_ivf_pq_index(spark, path)

    def test_plain_pq_index_round_trip(self, spark, tmp_path):
        df = _emb_df(
            spark,
            [[((i * 5 + j) % 7) / 6.0 for j in range(8)] for i in range(20)],
        )
        codes, cbs = pq.pq_build(df, dim=8, m=2, k=2, n_iter=1)
        idx = pq.make_ivf_pq_index([], cbs)
        path = str(tmp_path / "plain")
        pq.save_ivf_pq_index(spark, idx, path)
        loaded = pq.load_ivf_pq_index(spark, path)
        assert loaded == idx
        with pytest.raises(ValueError, match="plain-PQ"):
            pq.ivf_pq_query(codes, loaded, [0.0] * 8)
        top = pq.pq_adc_topk(codes, loaded.codebooks, [0.0] * 8, topk=2)
        assert len(top.collect()) == 2

    def test_make_index_validates_geometry(self, spark):
        _, _, idx = self._build(spark)
        ragged = [list(cb) for cb in idx.codebooks]
        ragged[0] = ragged[0][:1]
        with pytest.raises(ValueError, match="ragged"):
            pq.make_ivf_pq_index(idx.coarse_centroids, ragged)
        with pytest.raises(ValueError, match="coarse centroid dim"):
            pq.make_ivf_pq_index(
                [[0.0] * 5 for _ in range(4)], idx.codebooks
            )


class TestAdcMethodSwitch:
    """The LUT fold has two engines — literal codegen and one Arrow
    pass — that must agree bit-for-bit (same IEEE add order)."""

    def _build(self, spark, by_residual=False):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(60)
        ]
        df = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=4, coarse_iter=1, n_iter=1,
            by_residual=by_residual,
        )
        return vecs, coded, coarse, cbs

    def test_resolve_thresholds(self):
        assert pq._resolve_adc_method("auto", pq._ADC_LITERAL_MAX) == "literal"
        assert pq._resolve_adc_method("auto", pq._ADC_LITERAL_MAX + 1) == "arrow"
        assert pq._resolve_adc_method("literal", 10**6) == "literal"
        assert pq._resolve_adc_method("arrow", 1) == "arrow"
        import pytest as _pytest

        with _pytest.raises(ValueError, match="method"):
            pq._resolve_adc_method("blas", 1)

    def test_raw_scores_bit_identical(self, spark):
        vecs, coded, coarse, cbs = self._build(spark)
        q = vecs[5]
        lit = pq.pq_adc_scores(coded, cbs, q, method="literal")
        arr = pq.pq_adc_scores(coded, cbs, q, method="arrow")
        lit_rows = {r["id"]: r["adc_dist"] for r in lit.collect()}
        arr_rows = {r["id"]: r["adc_dist"] for r in arr.collect()}
        assert lit_rows == arr_rows  # exact equality, not approx

    def test_residual_topk_bit_identical(self, spark):
        vecs, coded, coarse, cbs = self._build(spark, by_residual=True)
        q = vecs[9]
        lit = pq.ivf_pq_topk(
            coded, coarse, cbs, q, n_probe=3, topk=15,
            by_residual=True, method="literal",
        ).collect()
        arr = pq.ivf_pq_topk(
            coded, coarse, cbs, q, n_probe=3, topk=15,
            by_residual=True, method="arrow",
        ).collect()
        assert [tuple(r) for r in lit] == [tuple(r) for r in arr]

    def test_raw_topk_bit_identical_via_ivf(self, spark):
        vecs, coded, coarse, cbs = self._build(spark)
        q = vecs[2]
        lit = pq.ivf_pq_topk(
            coded, coarse, cbs, q, n_probe=2, topk=10, method="literal"
        ).collect()
        arr = pq.ivf_pq_topk(
            coded, coarse, cbs, q, n_probe=2, topk=10, method="arrow"
        ).collect()
        assert [tuple(r) for r in lit] == [tuple(r) for r in arr]


class TestServingTable:
    """save_ivf_pq_table / load_ivf_pq_table: the one-call serving
    artifact — coded table partitioned by __list + fingerprinted index."""

    def _build(self, spark, by_residual=True):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(50)
        ]
        df = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1,
            by_residual=by_residual,
        )
        idx = pq.make_ivf_pq_index(coarse, cbs, by_residual=by_residual)
        return vecs, coded, idx

    def test_round_trip_serving(self, spark, tmp_path):
        vecs, coded, idx = self._build(spark)
        path = str(tmp_path / "serve")
        pq.save_ivf_pq_table(coded, idx, path)
        loaded_coded, loaded_idx = pq.load_ivf_pq_table(spark, path)
        assert loaded_idx == idx
        fresh = pq.ivf_pq_query(coded, idx, vecs[4], n_probe=2, topk=5)
        served = pq.ivf_pq_query(
            loaded_coded, loaded_idx, vecs[4], n_probe=2, topk=5
        )
        assert [tuple(r) for r in served.collect()] == [
            tuple(r) for r in fresh.collect()
        ]
        # The probe filter must reach partition pruning on the loaded
        # table — the layout's whole point. The parquet read is
        # partitioned by __list, so the physical plan's FileScan carries
        # the probe as a PartitionFilter (the deep pruning assertion
        # lives in TestIvfPqPartitionPruning; this pins the loaded-table
        # path exposes the same shape).
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            served.explain(True)
        assert "PartitionFilters" in buf.getvalue()
        assert "__list" in buf.getvalue()

    def test_mismatched_pair_rejected(self, spark, tmp_path):
        vecs, coded, idx = self._build(spark, by_residual=True)
        bad = pq.make_ivf_pq_index(
            idx.coarse_centroids, idx.codebooks, by_residual=False
        )
        with pytest.raises(ValueError, match="mismatched|by_residual"):
            pq.save_ivf_pq_table(coded, bad, str(tmp_path / "x"))

    def test_plain_pq_rejected(self, spark, tmp_path):
        vecs, coded, idx = self._build(spark)
        plain = pq.make_ivf_pq_index([], idx.codebooks)
        with pytest.raises(ValueError, match="coarse"):
            pq.save_ivf_pq_table(coded, plain, str(tmp_path / "y"))
        no_list = coded.select("id", "codes")
        with pytest.raises(ValueError, match="__list"):
            pq.save_ivf_pq_table(no_list, idx, str(tmp_path / "z"))

    def test_torn_resave_never_pairs_mismatched(self, spark, tmp_path):
        # Simulate a crash between a re-save's coded write and its index
        # write: the new coded generation lands but the OLD index stays.
        # Load must serve the OLD self-consistent pair, and re-running
        # the save must converge (and sweep the superseded generation).
        vecs, coded, idx = self._build(spark, by_residual=True)
        path = str(tmp_path / "serve")
        pq.save_ivf_pq_table(coded, idx, path)
        c0, i0 = pq.load_ivf_pq_table(spark, path)
        baseline = pq.ivf_pq_query(
            c0, i0, vecs[1], n_probe=2, topk=5
        ).collect()

        # A "retrained" artifact with different content (hence a new
        # fingerprint): perturb one codebook value.
        import math

        cbs2 = [[list(c) for c in cb] for cb in idx.codebooks]
        cbs2[0][0][0] = math.nextafter(cbs2[0][0][0], math.inf)
        idx2 = pq.make_ivf_pq_index(
            idx.coarse_centroids, cbs2, by_residual=True
        )
        assert idx2.fingerprint != idx.fingerprint
        # Torn save: only the coded half of the new generation lands
        # (generation = fingerprint + per-save nonce).
        from pyspark.sql import functions as F

        (
            coded.withColumn("batch_id", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("batch_id", "__list")
            .parquet(f"{path}/coded_{idx2.fingerprint}_deadbeef")
        )
        loaded_coded, loaded_idx = pq.load_ivf_pq_table(spark, path)
        assert loaded_idx == idx  # old pair, intact
        got = pq.ivf_pq_query(
            loaded_coded, loaded_idx, vecs[1], n_probe=2, topk=5
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in baseline]
        # Completing the save commits the new pair and sweeps every
        # superseded generation (including the torn one).
        pq.save_ivf_pq_table(coded, idx2, path)
        _, after = pq.load_ivf_pq_table(spark, path)
        assert after == idx2
        import os

        gens = [
            d for d in os.listdir(path) if d.startswith("coded_")
        ]
        assert len(gens) == 1
        assert gens[0].startswith(f"coded_{idx2.fingerprint}_")
        assert gens[0] != f"coded_{idx2.fingerprint}_deadbeef"

    def test_missing_coded_generation_raises(self, spark, tmp_path):
        vecs, coded, idx = self._build(spark)
        path = str(tmp_path / "serve")
        pq.save_ivf_pq_table(coded, idx, path)
        import shutil

        import os

        gen_dir = next(
            d for d in os.listdir(path) if d.startswith("coded_")
        )
        shutil.rmtree(f"{path}/{gen_dir}")
        with pytest.raises(ValueError, match="torn"):
            pq.load_ivf_pq_table(spark, path)


class TestIvfPqBatch:
    """ivf_pq_batch_topk: a whole query table in one job, per-query
    results bit-identical to the single-query serving path."""

    def _build(self, spark, by_residual=False):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(60)
        ]
        df = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=4, coarse_iter=1, n_iter=1,
            by_residual=by_residual,
        )
        idx = pq.make_ivf_pq_index(coarse, cbs, by_residual=by_residual)
        return vecs, coded, idx

    def _queries(self, spark, vecs, ids):
        return spark.createDataFrame(
            [(i, vecs[i]) for i in ids],
            "query_id bigint, embedding array<double>",
        )

    def test_batch_equals_singles_both_paths(self, spark):
        for flag in (False, True):
            vecs, coded, idx = self._build(spark, by_residual=flag)
            qdf = self._queries(spark, vecs, [3, 17, 42])
            batch = pq.ivf_pq_batch_topk(
                coded, idx, qdf, n_probe=2, topk=7
            ).collect()
            got = {}
            for r in batch:
                got.setdefault(r["query_id"], []).append(
                    (r["adc_dist"], r["id"])
                )
            for qid in (3, 17, 42):
                single = pq.ivf_pq_query(
                    coded, idx, vecs[qid], n_probe=2, topk=7
                ).collect()
                want = [(r["adc_dist"], r["id"]) for r in single]
                assert sorted(got[qid]) == want, f"qid={qid} flag={flag}"

    def test_validation(self, spark):
        vecs, coded, idx = self._build(spark)
        empty = spark.createDataFrame(
            [], "query_id bigint, embedding array<double>"
        )
        with pytest.raises(ValueError, match="empty"):
            pq.ivf_pq_batch_topk(coded, idx, empty)
        dup = spark.createDataFrame(
            [(1, vecs[0]), (1, vecs[1])],
            "query_id bigint, embedding array<double>",
        )
        with pytest.raises(ValueError, match="duplicate"):
            pq.ivf_pq_batch_topk(coded, idx, dup)
        short = spark.createDataFrame(
            [(1, [0.0, 1.0])], "query_id bigint, embedding array<double>"
        )
        with pytest.raises(ValueError, match="dim"):
            pq.ivf_pq_batch_topk(coded, idx, short)
        plain = pq.make_ivf_pq_index([], idx.codebooks)
        with pytest.raises(ValueError, match="coarse"):
            pq.ivf_pq_batch_topk(
                coded, plain, self._queries(spark, vecs, [0])
            )

    def test_from_persisted_serving_table(self, spark, tmp_path):
        vecs, coded, idx = self._build(spark, by_residual=True)
        path = str(tmp_path / "serve")
        pq.save_ivf_pq_table(coded, idx, path)
        lc, li = pq.load_ivf_pq_table(spark, path)
        qdf = self._queries(spark, vecs, [5, 9])
        served = pq.ivf_pq_batch_topk(lc, li, qdf, n_probe=3, topk=4)
        fresh = pq.ivf_pq_batch_topk(coded, idx, qdf, n_probe=3, topk=4)
        assert sorted(map(tuple, served.collect())) == sorted(
            map(tuple, fresh.collect())
        )


class TestIvfPqEncode:
    """ivf_pq_encode — encoding NEW vectors against a STORED index must
    be bit-identical to having included them in the one-shot build (the
    append primitive's core contract: per-row arithmetic has no
    cross-row dependence once the centroids are frozen)."""

    def _vecs(self, n=40, dim=8):
        return [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(dim)]
            for i in range(n)
        ]

    @pytest.mark.parametrize("by_residual", [False, True])
    @pytest.mark.parametrize("method", ["literal", "blas"])
    def test_encode_matches_oneshot_build(self, spark, by_residual, method):
        vecs = self._vecs()
        full = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            full, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1,
            by_residual=by_residual, method=method,
        )
        idx = pq.make_ivf_pq_index(coarse, cbs, by_residual=by_residual)
        # Encode the BACK half as a standalone batch with the stored
        # index — rows 20+ never influence each other's codes.
        batch = full.where("vec_id >= 20")
        enc = pq.ivf_pq_encode(batch, idx, method=method)
        want = {
            r["id"]: (list(r["codes"]), r["__list"])
            for r in coded.where("id >= 20").collect()
        }
        got = {
            r["id"]: (list(r["codes"]), r["__list"])
            for r in enc.collect()
        }
        assert got == want

    def test_encode_output_shape(self, spark):
        vecs = self._vecs()
        full = _emb_df(spark, vecs)
        _, coarse, cbs = pq.ivf_pq_build(
            full, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        idx = pq.make_ivf_pq_index(coarse, cbs)
        enc = pq.ivf_pq_encode(full.limit(3), idx)
        assert enc.columns == ["id", "codes", "__list"]
        rows = enc.collect()
        assert len(rows) == 3
        assert all(len(r["codes"]) == idx.m for r in rows)
        assert all(0 <= r["__list"] < idx.n_lists for r in rows)

    def test_plain_pq_index_rejected(self, spark):
        vecs = self._vecs()
        full = _emb_df(spark, vecs)
        _, cbs = pq.pq_build(full, dim=8, m=2, k=2, n_iter=1)
        plain = pq.make_ivf_pq_index([], cbs)
        with pytest.raises(ValueError, match="coarse"):
            pq.ivf_pq_encode(full, plain)


class TestIvfPqTableAppend:
    """ivf_pq_table_append — growing a persisted serving table with
    stored-index encoding: union ≡ one-shot build, replay idempotence,
    pruning intact."""

    def _vecs(self, n=40, dim=8):
        return [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(dim)]
            for i in range(n)
        ]

    def _split_store(self, spark, tmp_path, by_residual=True):
        """Index trained on the FULL corpus; base save holds the front
        half, the back half arrives later as appends."""
        vecs = self._vecs()
        full = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            full, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1,
            by_residual=by_residual,
        )
        idx = pq.make_ivf_pq_index(coarse, cbs, by_residual=by_residual)
        path = str(tmp_path / "serve")
        pq.save_ivf_pq_table(coded.where("id < 20"), idx, path)
        return vecs, full, coded, idx, path

    @pytest.mark.parametrize("by_residual", [False, True])
    def test_append_union_equals_oneshot(
        self, spark, tmp_path, by_residual
    ):
        vecs, full, coded, idx, path = self._split_store(
            spark, tmp_path, by_residual
        )
        pq.ivf_pq_table_append(
            full.where("vec_id >= 20 and vec_id < 30"), path, batch_id=0
        )
        pq.ivf_pq_table_append(
            full.where("vec_id >= 30"), path, batch_id=1
        )
        lc, li = pq.load_ivf_pq_table(spark, path)
        assert li == idx
        got = sorted(
            (r["id"], tuple(r["codes"]), r["__list"]) for r in lc.collect()
        )
        want = sorted(
            (r["id"], tuple(r["codes"]), r["__list"])
            for r in coded.collect()
        )
        assert got == want
        # Serving through the grown table == serving the one-shot build.
        grown = pq.ivf_pq_query(lc, li, vecs[25], n_probe=2, topk=8)
        fresh = pq.ivf_pq_query(coded, li, vecs[25], n_probe=2, topk=8)
        assert [tuple(r) for r in grown.collect()] == [
            tuple(r) for r in fresh.collect()
        ]

    def test_replay_same_batch_id_is_idempotent(self, spark, tmp_path):
        vecs, full, coded, idx, path = self._split_store(spark, tmp_path)
        batch = full.where("vec_id >= 20")
        pq.ivf_pq_table_append(batch, path, batch_id=3)
        pq.ivf_pq_table_append(batch, path, batch_id=3)  # replay
        lc, _ = pq.load_ivf_pq_table(spark, path)
        assert lc.count() == 40  # no double-counting
        assert lc.select("id").distinct().count() == 40

    def test_sentinel_append_lands_and_serves(self, spark, tmp_path):
        vecs, full, coded, idx, path = self._split_store(spark, tmp_path)
        pq.ivf_pq_table_append(full.where("vec_id >= 20"), path)
        lc, _ = pq.load_ivf_pq_table(spark, path)
        assert lc.count() == 40

    def test_probe_pruning_survives_appends(self, spark, tmp_path):
        vecs, full, coded, idx, path = self._split_store(spark, tmp_path)
        pq.ivf_pq_table_append(full.where("vec_id >= 20"), path, batch_id=0)
        lc, li = pq.load_ivf_pq_table(spark, path)
        plan = pq.ivf_pq_query(
            lc, li, vecs[2], n_probe=2, topk=5
        )._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "__list" in plan.split("PartitionFilters", 1)[1][:200]

    def test_bad_batches_rejected_before_write(self, spark, tmp_path):
        vecs, full, coded, idx, path = self._split_store(spark, tmp_path)
        empty = full.where("vec_id < 0")
        # Sentinel-empty raises; empty WITH an id is replay-truncate
        # (pinned in TestAppendEdgeSemantics).
        with pytest.raises(ValueError, match="empty"):
            pq.ivf_pq_table_append(empty, path)
        short = spark.createDataFrame(
            [(99, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
        )
        with pytest.raises(ValueError, match="8-dim"):
            pq.ivf_pq_table_append(short, path, batch_id=0)
        nul = spark.createDataFrame(
            [(99, [1.0, None, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])],
            "vec_id bigint, embedding array<double>",
        )
        with pytest.raises(ValueError, match="NULL"):
            pq.ivf_pq_table_append(nul, path, batch_id=0)
        with pytest.raises(ValueError, match="batch_id"):
            pq.ivf_pq_table_append(
                full.where("vec_id >= 20"), path, batch_id=-2
            )
        # Nothing landed: the base table is untouched.
        lc, _ = pq.load_ivf_pq_table(spark, path)
        assert lc.count() == 20

    def test_index_only_store_refused(self, spark, tmp_path):
        """A save_ivf_pq_index store (no coded-generation commit record
        and no pre-generation coded directory) is not a serving table —
        loads, appends and deletes must say so."""
        vecs, full, coded, idx, path = self._split_store(spark, tmp_path)
        iopath = str(tmp_path / "index_only")
        pq.save_ivf_pq_index(spark, idx, f"{iopath}/index")
        with pytest.raises(ValueError, match="index-only"):
            pq.load_ivf_pq_table(spark, iopath)
        with pytest.raises(ValueError, match="index-only"):
            pq.ivf_pq_table_append(full.limit(1), iopath, batch_id=0)
        with pytest.raises(ValueError, match="index-only"):
            pq.ivf_pq_table_delete(spark, iopath, [0], batch_id=0)

    def test_pre_generation_store_rejected(self, spark, tmp_path):
        # A store whose index lacks the coded_generation record (r10
        # layout: coded dir keyed by fingerprint, __list at the root) —
        # appending batch_id dirs into it would corrupt discovery.
        vecs = self._vecs()
        full = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            full, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        idx = pq.make_ivf_pq_index(coarse, cbs)
        path = str(tmp_path / "legacy")
        coded.write.mode("overwrite").partitionBy("__list").parquet(
            f"{path}/coded_{idx.fingerprint}"
        )
        pq.save_ivf_pq_index(spark, idx, f"{path}/index")
        # The legacy pair still loads and serves...
        lc, li = pq.load_ivf_pq_table(spark, path)
        assert lc.count() == 40 and li == idx
        # ...but appends are refused until a re-save migrates it.
        with pytest.raises(ValueError, match="pre-generation"):
            pq.ivf_pq_table_append(full.limit(1), path, batch_id=0)


class TestResidualFlagInData:
    """The by_residual geometry guard must survive DataFrame
    transformations and parquet round-trips — it rides as codes-column
    metadata, not a Python attribute."""

    def _build(self, spark, by_residual):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        df = _emb_df(spark, vecs)
        return vecs, pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1,
            by_residual=by_residual,
        )

    def test_guard_survives_select_and_cache(self, spark):
        vecs, (coded, coarse, cbs) = self._build(spark, by_residual=True)
        reshaped = coded.select("id", "codes", "__list").cache()
        try:
            with pytest.raises(ValueError, match="by_residual"):
                pq.ivf_pq_topk(reshaped, coarse, cbs, vecs[0], n_probe=2)
        finally:
            reshaped.unpersist()

    def test_guard_survives_filter_and_batch_path(self, spark):
        vecs, (coded, coarse, cbs) = self._build(spark, by_residual=False)
        idx = pq.make_ivf_pq_index(coarse, cbs, by_residual=True)
        filtered = coded.where("id >= 0")
        qdf = spark.createDataFrame(
            [(1, vecs[0])], "query_id bigint, embedding array<double>"
        )
        with pytest.raises(ValueError, match="by_residual"):
            pq.ivf_pq_batch_topk(filtered, idx, qdf)

    def test_guard_survives_parquet_round_trip(self, spark, tmp_path):
        vecs, (coded, coarse, cbs) = self._build(spark, by_residual=True)
        p = str(tmp_path / "codes")
        coded.write.parquet(p)
        back = spark.read.parquet(p)
        with pytest.raises(ValueError, match="by_residual"):
            pq.ivf_pq_topk(back, coarse, cbs, vecs[0], n_probe=2)

    def test_matching_flag_passes_after_reshape(self, spark):
        vecs, (coded, coarse, cbs) = self._build(spark, by_residual=True)
        rows = pq.ivf_pq_topk(
            coded.select("id", "codes", "__list"), coarse, cbs, vecs[0],
            n_probe=2, topk=5, by_residual=True,
        ).collect()
        assert len(rows) == 5


class TestNullCodesContract:
    """Malformed coded tables (NULL codes array or element) must raise
    the SAME descriptive error from every fold engine. The literal
    fold's element_at over a NULL-derived index is UNDEFINED under
    codegen (measured on Spark 4.1: it can return an arbitrary
    in-range LUT entry — a plausible-looking garbage score that
    survives top-k), so silence is not an option on either path."""

    def _poisoned(self, spark):
        df = _emb_df(spark, VECS)
        codes, cbs = pq.pq_build(df, dim=8, m=2, k=2, n_iter=1)
        from pyspark.sql import functions as F

        poisoned = codes.withColumn(
            "codes",
            F.when(
                F.col("id") == 3,
                F.array(F.lit(None).cast("int"), F.lit(0)),
            ).otherwise(F.col("codes")),
        )
        return poisoned, cbs

    @pytest.mark.parametrize("method", ["literal", "arrow"])
    def test_null_code_element_raises_descriptively(self, spark, method):
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PythonException, SparkRuntimeException

        poisoned, cbs = self._poisoned(spark)
        with pytest.raises(
            (Py4JJavaError, PythonException, SparkRuntimeException),
            match="NULL codes entry at id 3",
        ):
            pq.pq_adc_scores(poisoned, cbs, VECS[0], method=method).collect()

    def test_clean_rows_unaffected_by_guard(self, spark):
        df = _emb_df(spark, VECS)
        codes, cbs = pq.pq_build(df, dim=8, m=2, k=2, n_iter=1)
        lit = pq.pq_adc_scores(codes, cbs, VECS[0], method="literal")
        arw = pq.pq_adc_scores(codes, cbs, VECS[0], method="arrow")
        assert sorted(map(tuple, lit.collect())) == sorted(
            map(tuple, arw.collect())
        )


class TestBatchLutCap:
    def test_oversized_batch_raises_sized_error(self, spark):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        df = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        idx = pq.make_ivf_pq_index(coarse, cbs)
        qdf = spark.createDataFrame(
            [(1, vecs[0])], "query_id bigint, embedding array<double>"
        )
        import ons_utils_spark.operators.pq as pqmod

        old = pqmod._BATCH_LUT_MAX_BYTES
        pqmod._BATCH_LUT_MAX_BYTES = 8  # force the cap
        try:
            with pytest.raises(ValueError, match="MiB.*[Cc]hunk"):
                pq.ivf_pq_batch_topk(coded, idx, qdf)
        finally:
            pqmod._BATCH_LUT_MAX_BYTES = old


class TestAppendEdgeSemantics:
    """Review fixes pinned: empty-batch replay-truncate, and the LUT
    cap using the EFFECTIVE probe count."""

    def _store(self, spark, tmp_path):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        full = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            full, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        idx = pq.make_ivf_pq_index(coarse, cbs)
        path = str(tmp_path / "serve")
        pq.save_ivf_pq_table(coded.where("id < 20"), idx, path)
        return vecs, full, idx, path

    def test_empty_batch_with_id_truncates_partition(
        self, spark, tmp_path
    ):
        vecs, full, idx, path = self._store(spark, tmp_path)
        batch = full.where("vec_id >= 20")
        pq.ivf_pq_table_append(batch, path, batch_id=4)
        lc, _ = pq.load_ivf_pq_table(spark, path)
        assert lc.count() == 40
        # Replay of batch 4 whose rows now filter out: must TRUNCATE
        # the partition (stale rows gone), not raise.
        pq.ivf_pq_table_append(
            full.where("vec_id < 0"), path, batch_id=4
        )
        lc, _ = pq.load_ivf_pq_table(spark, path)
        assert lc.count() == 20
        # Sentinel-empty is still a loud caller mistake.
        with pytest.raises(ValueError, match="empty"):
            pq.ivf_pq_table_append(full.where("vec_id < 0"), path)

    def test_lut_cap_uses_effective_probe_count(self, spark):
        # n_probe far above n_lists must not inflate the cap estimate:
        # the real LUT is bounded by n_lists. Only the RESIDUAL path
        # multiplies by the probe count, so the store must be
        # by_residual=True or this test pins nothing.
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        full = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            full, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1,
            by_residual=True,
        )
        idx = pq.make_ivf_pq_index(coarse, cbs, by_residual=True)
        qdf = spark.createDataFrame(
            [(1, vecs[0])], "query_id bigint, embedding array<double>"
        )
        import ons_utils_spark.operators.pq as pqmod

        old = pqmod._BATCH_LUT_MAX_BYTES
        # Fits the n_lists=4-bounded payload exactly; a naive
        # n_probe=1000 estimate would be 250x over and raise.
        pqmod._BATCH_LUT_MAX_BYTES = 1 * 4 * 2 * 2 * 8
        try:
            rows = pq.ivf_pq_batch_topk(
                coded, idx, qdf, n_probe=1000, topk=3
            ).collect()
            assert rows
        finally:
            pqmod._BATCH_LUT_MAX_BYTES = old


class TestChunkedBatch:
    def test_chunked_equals_unchunked(self, spark):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        df = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1,
            by_residual=True,
        )
        idx = pq.make_ivf_pq_index(coarse, cbs, by_residual=True)
        qdf = spark.createDataFrame(
            [(i, vecs[i]) for i in (0, 5, 9, 13)],
            "query_id bigint, embedding array<double>",
        )
        whole = pq.ivf_pq_batch_topk(coded, idx, qdf, n_probe=2, topk=6)
        chunked = pq.ivf_pq_batch_topk_chunked(
            coded, idx, qdf, n_probe=2, topk=6, chunk_queries=1
        )
        assert sorted(map(tuple, whole.collect())) == sorted(
            map(tuple, chunked.collect())
        )
        # The default chunk size never trips the cap error.
        auto = pq.ivf_pq_batch_topk_chunked(
            coded, idx, qdf, n_probe=2, topk=6
        )
        assert sorted(map(tuple, auto.collect())) == sorted(
            map(tuple, whole.collect())
        )

    def test_empty_and_duplicates_raise(self, spark):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        df = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        idx = pq.make_ivf_pq_index(coarse, cbs)
        empty = spark.createDataFrame(
            [], "query_id bigint, embedding array<double>"
        )
        with pytest.raises(ValueError, match="empty"):
            pq.ivf_pq_batch_topk_chunked(coded, idx, empty)
        dup = spark.createDataFrame(
            [(1, vecs[0]), (1, vecs[1])],
            "query_id bigint, embedding array<double>",
        )
        with pytest.raises(ValueError, match="duplicate"):
            pq.ivf_pq_batch_topk_chunked(coded, idx, dup)


class TestReviewFixPins:
    def _store(self, spark, tmp_path):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        full = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            full, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        idx = pq.make_ivf_pq_index(coarse, cbs)
        path = str(tmp_path / "serve")
        pq.save_ivf_pq_table(coded.where("id < 20"), idx, path)
        return vecs, full, idx, path

    def test_replay_truncate_survives_dynamic_overwrite_mode(
        self, spark, tmp_path
    ):
        """The batch_id overwrite pins partitionOverwriteMode=static at
        the writer: under a session's DYNAMIC mode an empty replay
        would otherwise delete nothing and stale rows would survive."""
        vecs, full, idx, path = self._store(spark, tmp_path)
        key = "spark.sql.sources.partitionOverwriteMode"
        old = spark.conf.get(key, "static")
        spark.conf.set(key, "dynamic")
        try:
            pq.ivf_pq_table_append(
                full.where("vec_id >= 20"), path, batch_id=2
            )
            lc, _ = pq.load_ivf_pq_table(spark, path)
            assert lc.count() == 40
            pq.ivf_pq_table_append(
                full.where("vec_id < 0"), path, batch_id=2
            )
            lc, _ = pq.load_ivf_pq_table(spark, path)
            assert lc.count() == 20  # stale rows truncated
        finally:
            spark.conf.set(key, old)

    def test_null_query_id_rejected_both_entry_points(
        self, spark, tmp_path
    ):
        vecs, full, idx, path = self._store(spark, tmp_path)
        lc, li = pq.load_ivf_pq_table(spark, path)
        qdf = spark.createDataFrame(
            [(None, vecs[0]), (1, vecs[1])],
            "query_id bigint, embedding array<double>",
        )
        with pytest.raises(ValueError, match="NULL.*query_id"):
            pq.ivf_pq_batch_topk(lc, li, qdf)
        with pytest.raises(ValueError, match="NULL.*query_id"):
            pq.ivf_pq_batch_topk_chunked(lc, li, qdf)


class TestIvfPqTableCompaction:
    def test_compact_preserves_serving_and_accepts_appends(
        self, spark, tmp_path
    ):
        import os

        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        full = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            full, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1,
            by_residual=True,
        )
        idx = pq.make_ivf_pq_index(coarse, cbs, by_residual=True)
        path = str(tmp_path / "serve")
        pq.save_ivf_pq_table(coded.where("id < 15"), idx, path)
        pq.ivf_pq_table_append(
            full.where("vec_id >= 15 and vec_id < 25"), path, batch_id=0
        )
        pq.ivf_pq_table_append(
            full.where("vec_id >= 25 and vec_id < 32"), path, batch_id=1
        )
        lc0, li0 = pq.load_ivf_pq_table(spark, path)
        before = pq.ivf_pq_query(
            lc0, li0, vecs[20], n_probe=2, topk=8
        ).collect()
        pq.ivf_pq_table_compact(spark, path)
        gen_dir = next(
            d for d in os.listdir(path) if d.startswith("coded_")
        )
        parts = sorted(
            d for d in os.listdir(f"{path}/{gen_dir}")
            if d.startswith("batch_id=")
        )
        assert parts == ["batch_id=-1"]
        lc, li = pq.load_ivf_pq_table(spark, path)
        assert li == idx
        after = pq.ivf_pq_query(lc, li, vecs[20], n_probe=2, topk=8)
        assert [tuple(r) for r in after.collect()] == [
            tuple(r) for r in before
        ]
        # Probe pruning still lands in PartitionFilters on the
        # compacted layout.
        plan = pq.ivf_pq_query(
            lc, li, vecs[2], n_probe=2, topk=5
        )._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "__list" in plan.split("PartitionFilters", 1)[1][:200]
        # And the compacted store keeps accepting appends.
        pq.ivf_pq_table_append(
            full.where("vec_id >= 32"), path, batch_id=7
        )
        lc, _ = pq.load_ivf_pq_table(spark, path)
        assert lc.count() == 40

    def test_pre_generation_store_refused(self, spark, tmp_path):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        full = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            full, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        idx = pq.make_ivf_pq_index(coarse, cbs)
        path = str(tmp_path / "legacy")
        coded.write.mode("overwrite").partitionBy("__list").parquet(
            f"{path}/coded_{idx.fingerprint}"
        )
        pq.save_ivf_pq_index(spark, idx, f"{path}/index")
        with pytest.raises(ValueError, match="pre-generation"):
            pq.ivf_pq_table_compact(spark, path)


class TestEmptyBootstrapStore:
    def test_empty_base_save_then_append_then_load(self, spark, tmp_path):
        """Bootstrap-from-stream: an EMPTY base save is legal, the
        first load before any append fails with a message naming the
        bootstrap case, and after the first append the store serves."""
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        full = _emb_df(spark, vecs)
        coded, coarse, cbs = pq.ivf_pq_build(
            full, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        idx = pq.make_ivf_pq_index(coarse, cbs)
        path = str(tmp_path / "boot")
        pq.save_ivf_pq_table(coded.where("id < 0"), idx, path)
        with pytest.raises(ValueError, match="EMPTY.*append"):
            pq.load_ivf_pq_table(spark, path)
        pq.ivf_pq_table_append(full, path, batch_id=0)
        lc, li = pq.load_ivf_pq_table(spark, path)
        assert li == idx and lc.count() == 40


class TestIvfPqRefined:
    """ivf_pq_topk_refined — compressed shortlist + exact re-rank
    (FAISS IndexRefineFlat shape)."""

    def _spread(self, spark, n=40, dim=8):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(dim)]
            for i in range(n)
        ]
        return _emb_df(spark, vecs), vecs

    def _exact(self, q, v, dp=6):
        from ons_utils_spark.operators.semantic import _py_dot

        return round(
            _py_dot(q, q) + _py_dot(v, v) - 2 * _py_dot(q, v), dp
        )

    def test_full_shortlist_equals_exact_over_probed_lists(self, spark):
        """With the shortlist covering every probed vector, the refined
        top-k IS the exact squared-L2 top-k over the probed lists."""
        df, vecs = self._spread(spark)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        q = vecs[5]
        got = pq.ivf_pq_topk_refined(
            coded, coarse, cbs, q, df,
            n_probe=4, topk=5, refine_factor=8,  # 40 >= corpus
        ).collect()
        assert [r["id"] for r in got] == [
            i for _, i in sorted(
                (self._exact(q, v), i) for i, v in enumerate(vecs)
            )[:5]
        ]
        for r in got:
            assert r["exact_dist"] == pytest.approx(
                self._exact(q, vecs[r["id"]])
            )

    def test_output_shape_and_ordering(self, spark):
        df, vecs = self._spread(spark)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        out = pq.ivf_pq_topk_refined(
            coded, coarse, cbs, vecs[0], df, n_probe=2, topk=4
        )
        assert out.columns == ["id", "adc_dist", "exact_dist"]
        rows = out.collect()
        dists = [r["exact_dist"] for r in rows]
        assert dists == sorted(dists)
        assert len(rows) <= 4

    def test_refine_factor_one_reranks_the_adc_topk(self, spark):
        """refine_factor=1: same id SET as the plain ADC top-k, order by
        exact distance instead."""
        df, vecs = self._spread(spark)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        q = vecs[7]
        adc = pq.ivf_pq_topk(
            coded, coarse, cbs, q, n_probe=2, topk=6
        ).collect()
        ref = pq.ivf_pq_topk_refined(
            coded, coarse, cbs, q, df, n_probe=2, topk=6, refine_factor=1
        ).collect()
        assert {r["id"] for r in ref} == {r["id"] for r in adc}
        assert {r["id"]: r["adc_dist"] for r in ref} == {
            r["id"]: r["adc_dist"] for r in adc
        }

    def test_broadcast_fallback_bit_identical(self, spark, monkeypatch):
        df, vecs = self._spread(spark)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        q = vecs[3]
        via_isin = pq.ivf_pq_topk_refined(
            coded, coarse, cbs, q, df, n_probe=2, topk=5
        ).collect()
        monkeypatch.setattr(pq, "_REFINE_ISIN_MAX", 0)
        via_join = pq.ivf_pq_topk_refined(
            coded, coarse, cbs, q, df, n_probe=2, topk=5
        ).collect()
        assert [tuple(r) for r in via_isin] == [tuple(r) for r in via_join]

    def test_residual_geometry_reranks_too(self, spark):
        df, vecs = self._spread(spark)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1,
            by_residual=True,
        )
        q = vecs[11]
        cand = pq.ivf_pq_topk(
            coded, coarse, cbs, q, n_probe=2, topk=10, by_residual=True
        ).collect()
        ref = pq.ivf_pq_topk_refined(
            coded, coarse, cbs, q, df,
            n_probe=2, topk=5, refine_factor=2, by_residual=True,
        ).collect()
        assert {r["id"] for r in ref} <= {r["id"] for r in cand}
        want = sorted(
            (self._exact(q, vecs[r["id"]]), r["id"]) for r in cand
        )[:5]
        assert [r["id"] for r in ref] == [i for _, i in want]

    def test_refine_factor_validated(self, spark):
        df, vecs = self._spread(spark)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        with pytest.raises(ValueError, match="refine_factor"):
            pq.ivf_pq_topk_refined(
                coded, coarse, cbs, vecs[0], df, refine_factor=0
            )


class TestIvfPqBatchRefined:
    """ivf_pq_batch_topk_refined — per query bit-identical to the
    single-query refined path."""

    def _spread(self, spark, n=40, dim=8):
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(dim)]
            for i in range(n)
        ]
        return _emb_df(spark, vecs), vecs

    def _build(self, spark):
        df, vecs = self._spread(spark)
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        return df, vecs, coded, coarse, cbs, pq.make_ivf_pq_index(coarse, cbs)

    def test_batch_equals_singles(self, spark):
        df, vecs, coded, coarse, cbs, idx = self._build(spark)
        qids = [3, 11]
        queries = df.where(df.vec_id.isin(qids)).select(
            df.vec_id.alias("query_id"), "embedding"
        )
        batch = pq.ivf_pq_batch_topk_refined(
            coded, idx, queries, df, n_probe=2, topk=4, refine_factor=3
        ).collect()
        for qid in qids:
            single = pq.ivf_pq_topk_refined(
                coded, coarse, cbs, vecs[qid], df,
                n_probe=2, topk=4, refine_factor=3,
            ).collect()
            got = [
                (r["id"], r["adc_dist"], r["exact_dist"])
                for r in batch if r["query_id"] == qid
            ]
            want = [
                (r["id"], r["adc_dist"], r["exact_dist"]) for r in single
            ]
            assert got == want

    def test_broadcast_fallback_bit_identical(self, spark, monkeypatch):
        df, vecs, coded, coarse, cbs, idx = self._build(spark)
        queries = df.where(df.vec_id.isin([0, 7])).select(
            df.vec_id.alias("query_id"), "embedding"
        )
        a = pq.ivf_pq_batch_topk_refined(
            coded, idx, queries, df, n_probe=2, topk=3
        ).collect()
        monkeypatch.setattr(pq, "_REFINE_ISIN_MAX", 0)
        b = pq.ivf_pq_batch_topk_refined(
            coded, idx, queries, df, n_probe=2, topk=3
        ).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_refine_factor_validated(self, spark):
        df, vecs, coded, coarse, cbs, idx = self._build(spark)
        queries = df.limit(1).select(
            df.vec_id.alias("query_id"), "embedding"
        )
        with pytest.raises(ValueError, match="refine_factor"):
            pq.ivf_pq_batch_topk_refined(
                coded, idx, queries, df, refine_factor=0
            )


class TestRefinedIdTypeGenerality:
    def test_int_ids_preserved_through_refine(self, spark):
        df = spark.createDataFrame(
            [
                (i, [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)])
                for i in range(40)
            ],
            "vec_id int, embedding array<float>",
        )
        coded, coarse, cbs = pq.ivf_pq_build(
            df, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        q = [((3 * 7 + j * 3) % 11) / 10.0 for j in range(8)]
        out = pq.ivf_pq_topk_refined(
            coded, coarse, cbs, q, df, n_probe=2, topk=4
        )
        assert dict(out.dtypes)["id"] == "int"
        assert out.count() > 0


class TestRefinedFetchPushdown:
    def test_shortlist_in_filter_reaches_the_source_scan(
        self, spark, tmp_path
    ):
        """The refine stage's contract is a PRUNED raw-vector read: the
        candidate ids must land in the parquet scan's filters (below
        the cap), not in a post-scan Filter over a full read."""
        vecs = [
            [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]
            for i in range(40)
        ]
        _emb_df(spark, vecs).write.parquet(str(tmp_path / "emb"))
        src = spark.read.parquet(str(tmp_path / "emb"))
        coded, coarse, cbs = pq.ivf_pq_build(
            src, dim=8, n_lists=4, m=2, k=2, coarse_iter=1, n_iter=1
        )
        out = pq.ivf_pq_topk_refined(
            coded, coarse, cbs, vecs[5], src, n_probe=2, topk=3
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        scan_lines = [
            ln for ln in plan.splitlines()
            if "FileScan" in ln and "emb" in ln
        ]
        assert scan_lines, plan
        assert any(
            "In(vec_id" in ln or "INSET" in ln for ln in scan_lines
        ), (
            "shortlist In-filter did not reach the raw-vector scan:\n"
            + "\n".join(scan_lines)
        )
