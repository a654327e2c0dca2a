"""Sink/source round-trip tests."""

import os

import pytest
from pyspark.sql import functions as F

from ons_utils_spark.sources.write import (
    read_csv,
    read_json,
    write_bucketed_table,
    write_table,
)
from ons_utils_spark.testing import assert_df_equality, create_spark_df


@pytest.fixture()
def df(spark):
    return create_spark_df(
        spark,
        [
            ("id", "grp", "val"),
            (1, "a", 1.5),
            (2, "a", 2.5),
            (3, "b", 3.5),
        ],
    )


class TestParquetRoundTrip:
    def test_plain(self, spark, df, tmp_path):
        path = str(tmp_path / "t")
        write_table(df, path)
        assert_df_equality(spark.read.parquet(path), df, ignore_row_order=True)

    def test_partitioned_layout_and_pruning(self, spark, df, tmp_path):
        path = str(tmp_path / "t")
        write_table(df, path, partition_by="grp")
        assert os.path.isdir(os.path.join(path, "grp=a"))
        back = spark.read.parquet(path).where(F.col("grp") == "a")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert back.count() == 2
        # Partition filter reaches the scan (pruning, not a post-filter).
        assert "PartitionFilters: [isnotnull(grp" in plan

    def test_coalesce_to_caps_files(self, spark, df, tmp_path):
        path = str(tmp_path / "t")
        write_table(df.repartition(8), path, coalesce_to=1)
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        assert len(files) == 1


class TestBucketedTable:
    def test_bucketed_join_has_no_shuffle(self, spark, df):
        write_bucketed_table(df, "bt_left", "id", 4, sort_cols="id")
        write_bucketed_table(df, "bt_right", "id", 4, sort_cols="id")
        try:
            joined = spark.table("bt_left").join(spark.table("bt_right"), "id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert joined.count() == 3
            # Co-bucketed join: no Exchange (shuffle) on either side.
            assert "Exchange hashpartitioning" not in plan
        finally:
            spark.sql("DROP TABLE IF EXISTS bt_left")
            spark.sql("DROP TABLE IF EXISTS bt_right")


class TestCsvJson:
    def test_csv_round_trip_with_schema(self, spark, df, tmp_path):
        path = str(tmp_path / "c")
        write_table(df, path, fmt="csv", compression=None)
        back = read_csv(spark, path, schema="id bigint, grp string, val double", header=False)
        assert back.count() == 3

    def test_json_round_trip(self, spark, df, tmp_path):
        path = str(tmp_path / "j")
        write_table(df, path, fmt="json", compression=None)
        back = read_json(spark, path, schema="id bigint, grp string, val double")
        assert_df_equality(back, df, ignore_row_order=True, ignore_column_order=True)


class TestOrc:
    def test_round_trip_partitioned_and_pruned(self, spark, df, tmp_path):
        """ORC through the same write_table surface: layout, pruning, and
        predicate pushdown all work — no parquet-only assumptions."""
        path = str(tmp_path / "orc_t")
        write_table(df, path, fmt="orc", partition_by="grp")
        assert os.path.isdir(os.path.join(path, "grp=a"))
        back = spark.read.orc(path)
        assert_df_equality(
            back.select("id", "grp", "val"),
            df.select("id", "grp", "val"),
            ignore_row_order=True,
        )
        pruned = back.where((F.col("grp") == "a") & (F.col("id") > 1))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert pruned.count() == 1
        assert "PartitionFilters: [isnotnull(grp" in plan
        assert "PushedFilters: [IsNotNull(id), GreaterThan(id,1)]" in plan


class TestMergeOverwrite:
    def test_updates_and_inserts(self, spark, df, tmp_path):
        from ons_utils_spark.sources.write import merge_overwrite

        path = str(tmp_path / "t")
        write_table(df, path)
        updates = spark.createDataFrame(
            [(2, "a", 99.0), (4, "c", 4.5)], "id bigint, grp string, val double"
        )
        merge_overwrite(spark, path, updates, "id")
        back = {r["id"]: r["val"] for r in spark.read.parquet(path).collect()}
        assert back == {1: 1.5, 2: 99.0, 3: 3.5, 4: 4.5}

    def test_idempotent_reapply(self, spark, df, tmp_path):
        from ons_utils_spark.sources.write import merge_overwrite

        path = str(tmp_path / "t")
        write_table(df, path)
        updates = spark.createDataFrame([(1, "a", 7.0)], "id bigint, grp string, val double")
        merge_overwrite(spark, path, updates, "id")
        merge_overwrite(spark, path, updates, "id")
        assert spark.read.parquet(path).count() == 3

    def test_crash_between_renames_keeps_the_table(
        self, spark, df, tmp_path, monkeypatch
    ):
        """The merged snapshot is promoted by rename-aside: a crash after
        the live table moved aside loses nothing, and the next merge
        restores it before reading."""
        from ons_utils_spark.sources import store as S
        from ons_utils_spark.sources.write import merge_overwrite

        path = str(tmp_path / "t")
        write_table(df, path)
        updates = spark.createDataFrame(
            [(2, "a", 99.0)], "id bigint, grp string, val double"
        )

        def crash(live, staging, what):
            filesystem, dst = S._resolve_fs(live)
            filesystem.move(dst, dst + ".__old")
            raise OSError("injected crash between the renames")

        with monkeypatch.context() as m:
            m.setattr(S, "promote_staged_store", crash)
            with pytest.raises(OSError, match="injected crash"):
                merge_overwrite(spark, path, updates, "id")
        assert not os.path.exists(path)
        merge_overwrite(spark, path, updates, "id")
        back = {r["id"]: r["val"] for r in spark.read.parquet(path).collect()}
        assert back == {1: 1.5, 2: 99.0, 3: 3.5}
        assert not os.path.exists(path + ".__old")


class TestZorderWrite:
    def test_zorder_value_interleaves_bits(self, spark):
        from ons_utils_spark.sources.write import zorder_value

        df = spark.createDataFrame([(3, 0), (0, 3)], "x int, y int")
        got = {
            (r["x"], r["y"]): r["z"]
            for r in df.select("x", "y", zorder_value(["x", "y"], bits=2).alias("z")).collect()
        }
        # x occupies even bit positions, y odd: (3,0) -> 0b0101, (0,3) -> 0b1010.
        assert got == {(3, 0): 0b0101, (0, 3): 0b1010}

    def test_files_carry_tight_minmax_for_both_dims(self, spark, tmp_path):
        """Z-ordered files have non-overlapping-ish footer ranges on BOTH
        clustered columns, so a selective filter on either prunes most
        files — the data-skipping contract, checked on real footers."""
        import pyarrow.parquet as pq

        from ons_utils_spark.sources.write import write_zordered

        n = 4096
        side = 64
        df = spark.range(n).select(
            (F.col("id") % side).alias("x"),
            (F.col("id") / side).cast("bigint").alias("y"),
            F.col("id").alias("payload"),
        )
        path = str(tmp_path / "z")
        write_zordered(df, path, ["x", "y"], num_files=16, bits=6)

        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        assert len(files) > 4
        spans = {"x": [], "y": []}
        for f in files:
            meta = pq.ParquetFile(os.path.join(path, f)).metadata
            mins = {"x": None, "y": None}
            maxs = {"x": None, "y": None}
            for rg in range(meta.num_row_groups):
                for ci in range(meta.num_columns):
                    col = meta.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in mins:
                        st = col.statistics
                        mins[name] = st.min if mins[name] is None else min(mins[name], st.min)
                        maxs[name] = st.max if maxs[name] is None else max(maxs[name], st.max)
            for c in ("x", "y"):
                spans[c].append((maxs[c] - mins[c] + 1) / side)
        # Each file covers a small fraction of each dimension's range —
        # an unsorted write would give ~1.0 per file on both.
        for c in ("x", "y"):
            avg_span = sum(spans[c]) / len(spans[c])
            assert avg_span < 0.6, (c, spans[c])

    def test_round_trip_preserves_rows(self, spark, tmp_path):
        from ons_utils_spark.sources.write import write_zordered

        df = spark.range(100).select(
            F.col("id").alias("x"), (99 - F.col("id")).alias("y")
        )
        path = str(tmp_path / "z2")
        write_zordered(df, path, ["x", "y"], num_files=4)
        back = spark.read.parquet(path)
        assert back.count() == 100
        assert sorted(back.columns) == ["x", "y"]
        assert back.agg(F.sum("x")).collect()[0][0] == 4950

    def test_zorder_matches_python_reference(self, spark):
        """Interleaved-bit key equals a pure-Python Morton reference on
        seeded-random coordinates."""
        import random

        from ons_utils_spark.sources.write import zorder_value

        rng = random.Random(11)
        rows = [(rng.randrange(256), rng.randrange(256)) for _ in range(200)]

        def morton(x, y, bits=8):
            z = 0
            for b in range(bits):
                z |= ((x >> b) & 1) << (2 * b)
                z |= ((y >> b) & 1) << (2 * b + 1)
            return z

        df = spark.createDataFrame(rows, "x int, y int")
        got = {
            (r["x"], r["y"]): r["z"]
            for r in df.select(
                "x", "y", zorder_value(["x", "y"], bits=8).alias("z")
            ).collect()
        }
        for x, y in rows:
            assert got[(x, y)] == morton(x, y)


class TestMalformedRecords:
    @pytest.fixture()
    def bad_json(self, tmp_path):
        p = tmp_path / "in.jsonl"
        p.write_text(
            '{"id": 1, "v": "a"}\n'
            "this is not json\n"
            '{"id": 2, "v": "b"}\n'
        )
        return str(p)

    def test_keep_captures_corrupt_rows(self, spark, bad_json):
        df = read_json(
            spark, bad_json, "id bigint, v string, _corrupt_record string"
        )
        rows = df.collect()
        assert len(rows) == 3
        bad = [r for r in rows if r["_corrupt_record"] is not None]
        assert len(bad) == 1 and bad[0]["_corrupt_record"] == "this is not json"
        assert {r["id"] for r in rows if r["id"] is not None} == {1, 2}

    def test_drop_removes_corrupt_rows(self, spark, bad_json):
        df = read_json(
            spark, bad_json, "id bigint, v string", on_malformed="drop"
        )
        assert {r["id"] for r in df.collect()} == {1, 2}

    def test_fail_raises(self, spark, bad_json):
        import pyspark.errors

        df = read_json(
            spark, bad_json, "id bigint, v string", on_malformed="fail"
        )
        with pytest.raises(Exception):
            df.collect()

    def test_bad_policy_rejected(self, spark, bad_json):
        with pytest.raises(ValueError, match="on_malformed"):
            read_json(spark, bad_json, "id bigint", on_malformed="nope")

    def test_csv_keep_policy(self, spark, tmp_path):
        p = tmp_path / "in.csv"
        p.write_text("id,v\n1,a\nnot_an_int,b\n2,c\n")
        df = read_csv(
            spark, str(p), "id bigint, v string, _corrupt_record string"
        )
        rows = df.collect()
        bad = [r for r in rows if r["_corrupt_record"] is not None]
        assert len(bad) == 1
        assert {r["id"] for r in rows if r["id"] is not None} == {1, 2}
