"""Format-dispatching reader (sources.read_any) + Z-order sink."""

import os

import pytest
from pyspark.sql import functions as F

from pandas_weights_spark.sources import load_table, read_any
from pandas_weights_spark.sources.sinks import write_zordered, zorder_value


class TestReadAny:
    def test_parquet_by_extension(self, spark):
        df = read_any(spark, "/root/testdata/sf0.001/region.parquet")
        assert df.count() == 5

    def test_csv_roundtrip(self, spark, tmp_path):
        p = str(tmp_path / "t.csv")
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, name string"
        ).coalesce(1).write.option("header", "true").csv(p)
        got = read_any(spark, p, format="csv", schema="id long, name string")
        assert sorted((r["id"], r["name"]) for r in got.collect()) == [
            (1, "a"), (2, "b"),
        ]

    def test_jsonl_roundtrip(self, spark, tmp_path):
        p = str(tmp_path / "t.jsonl")
        spark.createDataFrame(
            [(1, 2.5)], "id long, v double"
        ).coalesce(1).write.json(p)
        got = read_any(spark, p, format="json", schema="id long, v double")
        assert got.collect()[0]["v"] == 2.5

    def test_unknown_extension_raises(self, spark):
        with pytest.raises(ValueError, match="cannot infer format"):
            read_any(spark, "/tmp/data.xyz")


class TestZOrder:
    def test_interleave_math(self, spark):
        # two dims, 2 bits: bucket pairs -> known Morton codes
        df = spark.createDataFrame(
            [(0.0, 0.0), (3.0, 0.0), (0.0, 3.0), (3.0, 3.0)], "x double, y double"
        )
        keyed, name = zorder_value(df, ["x", "y"], bits=2)
        got = {
            (r["x"], r["y"]): r[name] for r in keyed.collect()
        }
        # x -> bit positions 0,2 ; y -> bit positions 1,3
        assert got[(0.0, 0.0)] == 0
        assert got[(3.0, 0.0)] == 0b0101
        assert got[(0.0, 3.0)] == 0b1010
        assert got[(3.0, 3.0)] == 0b1111

    def test_files_cluster_both_dims(self, spark, tmp_path):
        import random

        rnd = random.Random(3)
        rows = [(rnd.uniform(0, 100), rnd.uniform(0, 100)) for _ in range(4000)]
        df = spark.createDataFrame(rows, "x double, y double")
        p = str(tmp_path / "z")
        write_zordered(df, p, ["x", "y"], num_files=4)
        files = [f for f in os.listdir(p) if f.endswith(".parquet")]
        assert len(files) >= 2
        # every file's bounding box should cover well under the full
        # area — that's what makes footer-stats pruning effective
        import pyarrow.parquet as pq

        areas = []
        for f in files:
            t = pq.read_table(os.path.join(p, f))
            xs = t.column("x").to_pylist()
            ys = t.column("y").to_pylist()
            areas.append((max(xs) - min(xs)) * (max(ys) - min(ys)))
        assert sum(areas) / len(areas) < 0.5 * 100 * 100, areas

    def test_zorder_column_dropped(self, spark, tmp_path):
        df = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
        p = str(tmp_path / "z2")
        write_zordered(df, p, ["x", "y"])
        got = spark.read.parquet(p)
        assert got.columns == ["x", "y"]

    def test_constant_column_ok(self, spark, tmp_path):
        df = spark.createDataFrame([(1.0, 5.0)] * 10, "x double, y double")
        keyed, name = zorder_value(df, ["x", "y"])
        assert keyed.select(name).distinct().count() == 1


class TestLoadTable:
    def test_multi_file_directory_with_nanos_timestamp(self, spark, tmp_path):
        # a table stored as a directory of parquet files (the layout
        # Spark itself writes) with a TIMESTAMP(NANOS) column
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        table_dir = tmp_path / "events.parquet"
        table_dir.mkdir()
        ts = pd.DatetimeIndex([
            pd.Timestamp("2024-01-01 00:00:00.000001999"),
            pd.Timestamp("2024-01-02 12:30:00"),
            pd.Timestamp("2024-03-04 05:06:07.123456789"),
        ])
        for i, part in enumerate(([0, 1], [2])):
            pq.write_table(
                pa.table({
                    "id": pa.array(part, pa.int64()),
                    "ts": pa.array(ts[part], pa.timestamp("ns")),
                }),
                str(table_dir / f"part-{i}.parquet"),
            )
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = sorted(
            tuple(r)
            for r in df.select("id", F.unix_micros("ts")).collect()
        )
        # microsecond truncation of the nanosecond values
        assert got == [(i, t.value // 1000) for i, t in enumerate(ts)]
