"""temperature_mixture, histogram, and compact_files tests."""

import math

import pytest
from pyspark.sql import functions as F

from ons_utils_spark.operators.profiling import histogram
from ons_utils_spark.operators.sampling import temperature_mixture


def _docs(spark, sizes):
    rows = []
    i = 0
    for g, n in sizes.items():
        for _ in range(n):
            rows.append((i, g))
            i += 1
    return spark.createDataFrame(rows, "id long, g string")


class TestTemperatureMixture:
    def test_t1_keeps_everything(self, spark):
        df = _docs(spark, {"en": 50, "de": 10})
        assert temperature_mixture(df, "id", "g", 1.0).count() == 60

    def test_flattening_downsamples_large_groups_only(self, spark):
        df = _docs(spark, {"big": 400, "small": 20})
        kept = (
            temperature_mixture(df, "id", "g", 2.0)
            .groupBy("g")
            .count()
            .collect()
        )
        by_g = {r["g"]: r["count"] for r in kept}
        # anchor = smallest group: kept fully (rate 1.0)
        assert by_g.get("small") == 20
        # big keeps ~ (400/20)^(-1/2) = 22% — well below natural share
        assert 40 <= by_g.get("big", 0) <= 140

    def test_deterministic_across_partitionings(self, spark):
        df = _docs(spark, {"a": 100, "b": 30})
        one = {
            r["id"]
            for r in temperature_mixture(df.coalesce(1), "id", "g", 3.0).collect()
        }
        many = {
            r["id"]
            for r in temperature_mixture(
                df.repartition(7), "id", "g", 3.0
            ).collect()
        }
        assert one == many

    def test_rejects_bad_temperature(self, spark):
        df = _docs(spark, {"a": 1})
        with pytest.raises(ValueError):
            temperature_mixture(df, "id", "g", 0)


class TestHistogram:
    def test_explicit_bounds(self, spark):
        df = spark.createDataFrame(
            [(float(v),) for v in [0, 1, 2, 5, 9, 10]], "x double"
        )
        rows = histogram(df, "x", bins=2, lo=0, hi=10).collect()
        # half-open buckets: 5.0 belongs to [5, 10), not [0, 5)
        assert [(r["bucket"], r["n"]) for r in rows] == [(0, 3), (1, 3)]
        assert rows[0]["lo_edge"] == 0.0 and rows[0]["hi_edge"] == 5.0

    def test_max_value_lands_in_last_bucket(self, spark):
        df = spark.createDataFrame([(0.0,), (10.0,)], "x double")
        rows = histogram(df, "x", bins=5).collect()
        assert rows[-1]["bucket"] == 4 and rows[-1]["n"] == 1

    def test_constant_column_single_bucket(self, spark):
        df = spark.createDataFrame([(3.0,)] * 4, "x double")
        rows = histogram(df, "x", bins=10).collect()
        assert len(rows) == 1 and rows[0]["n"] == 4

    def test_nulls_and_out_of_range_dropped(self, spark):
        df = spark.createDataFrame(
            [(None,), (5.0,), (50.0,)], "x double"
        )
        rows = histogram(df, "x", bins=2, lo=0, hi=10).collect()
        assert sum(r["n"] for r in rows) == 1

    def test_counts_sum_to_input(self, spark):
        df = spark.range(1000).select(F.col("id").cast("double").alias("x"))
        rows = histogram(df, "x", bins=7).collect()
        assert sum(r["n"] for r in rows) == 1000
        assert [r["bucket"] for r in rows] == sorted(r["bucket"] for r in rows)


class TestCompactFiles:
    def test_compacts_and_preserves_rows(self, spark, tmp_path):
        from ons_utils_spark.sources.write import compact_files

        path = str(tmp_path / "t")
        spark.range(10_000).selectExpr("id", "id * 2 AS v").repartition(
            16
        ).write.parquet(path)
        before = spark.read.parquet(path)
        before_rows = sorted(r["id"] for r in before.collect())

        stats = compact_files(spark, path, target_mb=1024)
        assert stats["files_before"] >= 16
        assert stats["files_after"] == 1
        assert stats["partitions"] == 1

        after = spark.read.parquet(path)
        assert sorted(r["id"] for r in after.collect()) == before_rows
        assert after.schema == before.schema

    def test_recovers_from_mid_swap_crash_debris(self, spark, tmp_path):
        """Crash between the two promote renames leaves only `.__old`;
        the next run must restore the table and compact it normally."""
        import shutil

        from ons_utils_spark.sources.write import compact_files

        path = str(tmp_path / "t")
        spark.range(1000).repartition(4).write.parquet(path)
        rows = sorted(r["id"] for r in spark.read.parquet(path).collect())
        shutil.move(path, path + ".__old")  # simulate the crash window

        stats = compact_files(spark, path, target_mb=1024)
        assert stats["files_after"] == 1
        assert sorted(
            r["id"] for r in spark.read.parquet(path).collect()
        ) == rows
        import os

        assert not os.path.exists(path + ".__old")

    def test_clears_stale_aside_after_completed_promotion(
        self, spark, tmp_path
    ):
        """Crash after promotion but before aside cleanup: the table is
        live and newer; the stale aside must not wedge the next run."""
        import os

        from ons_utils_spark.sources.write import compact_files

        path = str(tmp_path / "t")
        spark.range(500).repartition(4).write.parquet(path)
        spark.range(99).write.parquet(path + ".__old")  # superseded debris

        compact_files(spark, path, target_mb=1024)
        assert sorted(
            r["id"] for r in spark.read.parquet(path).collect()
        ) == list(range(500))
        assert not os.path.exists(path + ".__old")

    def test_crash_between_renames_keeps_the_table(
        self, spark, tmp_path, monkeypatch
    ):
        """compact_files promotes through the shared rename-aside pair in
        sources/store.py: a crash after the live table moved aside leaves
        only the aside, and the next run restores it and compacts."""
        import os

        from ons_utils_spark.sources import store as S
        from ons_utils_spark.sources.write import compact_files

        path = str(tmp_path / "t")
        spark.range(1000).repartition(4).write.parquet(path)

        def crash(live, staging, what):
            filesystem, dst = S._resolve_fs(live)
            filesystem.move(dst, dst + ".__old")
            raise OSError("injected crash between the renames")

        with monkeypatch.context() as m:
            m.setattr(S, "promote_staged_store", crash)
            with pytest.raises(OSError, match="injected crash"):
                compact_files(spark, path, target_mb=1024)
        assert not os.path.exists(path)
        stats = compact_files(spark, path, target_mb=1024)
        assert stats["files_after"] == 1
        assert sorted(
            r["id"] for r in spark.read.parquet(path).collect()
        ) == list(range(1000))
        assert not os.path.exists(path + ".__old")


class TestHistogramHalfBounds:
    def test_supplied_lo_is_respected(self, spark):
        df = spark.createDataFrame(
            [(-5.0,), (1.0,), (9.0,), (10.0,)], "x double"
        )
        rows = histogram(df, "x", bins=2, lo=0.0).collect()
        # hi derives from data (10), lo stays 0 — the negative row drops
        assert sum(r["n"] for r in rows) == 3
        assert rows[0]["lo_edge"] == 0.0

    def test_supplied_hi_is_respected(self, spark):
        df = spark.createDataFrame(
            [(1.0,), (9.0,), (50.0,)], "x double"
        )
        rows = histogram(df, "x", bins=2, hi=10.0).collect()
        assert sum(r["n"] for r in rows) == 2
        assert rows[-1]["hi_edge"] == 10.0


class TestProfileMapColumn:
    def test_map_column_profiles_partially(self, spark):
        from ons_utils_spark.operators.profiling import profile_columns

        df = spark.createDataFrame(
            [(1, {"a": "b"}), (2, None)], "i int, m map<string,string>"
        )
        rows = {r["col_name"]: r for r in profile_columns(df).collect()}
        assert rows["m"]["n"] == 2 and rows["m"]["n_null"] == 1
        assert rows["m"]["n_distinct"] is None
        assert rows["m"]["min_value"] is None
        assert rows["i"]["n_distinct"] == 2  # other columns unaffected


class TestTemperatureNullGroup:
    def test_null_group_kept_at_own_rate(self, spark):
        df = spark.createDataFrame(
            [(i, None) for i in range(30)] + [(100 + i, "en") for i in range(30)],
            "id long, g string",
        )
        out = temperature_mixture(df, "id", "g", 1.0)
        # equal-size groups at T=1: every row keeps, including NULL group
        assert out.count() == 60
        assert out.where(F.col("g").isNull()).count() == 30
