"""Format-dispatching reader (sources.read_any) + Z-order sink."""

import os

import pytest
from pyspark.sql import functions as F

from pandas_weights_spark.sources import (
    _first_data_file,
    _local_path,
    load_table,
    load_table_stream,
    read_any,
)
from pandas_weights_spark.sources.sinks import write_zordered, zorder_value
from tests.conftest import count_jobs


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


@pytest.fixture(scope="module")
def spark_tables(spark, tmp_path_factory):
    """Spark-written tables with every column kind the footer schema
    must carry: non-null and nullable, TIMESTAMP and TIMESTAMP_NTZ,
    decimal, array, struct and map."""
    base = tmp_path_factory.mktemp("footer")
    df = spark.range(60).select(
        "id",
        (F.col("id") % 3).cast("int").alias("k"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("s"),
        F.when(F.col("id") % 7 != 0, F.col("id") / 7).alias("x"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        F.expr("CAST(timestamp_seconds(id * 60) AS TIMESTAMP_NTZ)").alias("ntz"),
        F.expr("CAST(id / 7 AS DECIMAL(12, 3))").alias("dec"),
        F.array("id", F.col("id") * 2).alias("arr"),
        F.struct("id", F.col("id").cast("string").alias("t")).alias("st"),
        F.create_map(F.lit("a"), F.col("id")).alias("mp"),
    )
    df.coalesce(1).write.parquet(str(base / "single.parquet"))
    df.repartition(3).write.parquet(str(base / "multi.parquet"))
    df.write.partitionBy("k").parquet(str(base / "part_int.parquet"))
    df.write.partitionBy("s").parquet(str(base / "part_str.parquet"))
    assert (base / "multi.parquet" / "_SUCCESS").exists()
    return base


def _table_paths(base):
    single = base / "single.parquet"
    (file,) = [f for f in os.listdir(single) if f.endswith(".parquet")]
    return {
        "single_dir": str(single),
        "single_file": str(single / file),
        "multi": str(base / "multi.parquet"),
        "part_int": str(base / "part_int.parquet"),
        "part_str": str(base / "part_str.parquet"),
        "file_uri": "file://" + str(base / "multi.parquet"),
    }


def _same_frame(got, want):
    assert got.schema == want.schema
    assert got.schema.json() == want.schema.json()  # nullability, metadata
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


class TestFooterSchema:
    @pytest.mark.parametrize(
        "case",
        ["single_dir", "single_file", "multi", "part_int", "part_str", "file_uri"],
    )
    def test_spark_written_read_matches_inference_without_a_job(
        self, spark, spark_tables, case
    ):
        path = _table_paths(spark_tables)[case]
        got, jobs = count_jobs(spark, lambda: read_any(spark, path, format="parquet"))
        assert jobs == 0
        _same_frame(got, spark.read.parquet(path))

    def test_first_file_in_path_string_order(self, spark, tmp_path):
        # "k=a-b/…" sorts before "k=a/…" as a path string ('-' < '/'),
        # after it component by component; Spark reads the former
        spark.range(3).selectExpr("id AS a").write.parquet(str(tmp_path / "k=a"))
        spark.range(3).selectExpr("CAST(id AS STRING) AS b").write.parquet(
            str(tmp_path / "k=a-b")
        )
        got, jobs = count_jobs(
            spark, lambda: read_any(spark, str(tmp_path), format="parquet")
        )
        assert jobs == 0
        assert got.columns == ["b", "k"]
        _same_frame(got, spark.read.parquet(str(tmp_path)))

    def test_load_table_launches_no_job(self, spark, spark_tables):
        got, jobs = count_jobs(
            spark, lambda: load_table(spark, str(spark_tables), "multi")
        )
        assert jobs == 0
        _same_frame(got, spark.read.parquet(str(spark_tables / "multi.parquet")))

    def test_load_table_stream_schema_from_footer(self, spark, tmp_path):
        spark.range(5).selectExpr("id", "id * 0.5 AS x").coalesce(1).write.parquet(
            str(tmp_path / "tmp")
        )
        (file,) = [f for f in os.listdir(tmp_path / "tmp") if f.endswith(".parquet")]
        os.rename(tmp_path / "tmp" / file, tmp_path / "t.parquet")
        got, jobs = count_jobs(
            spark, lambda: load_table_stream(spark, str(tmp_path), "t")
        )
        assert jobs == 0
        assert got.isStreaming
        assert got.schema == spark.read.parquet(str(tmp_path / "t.parquet")).schema

    @pytest.mark.parametrize(
        "case", ["pandas_footer", "glob", "merge_option", "merge_conf", "named_like_partition"]
    )
    def test_fallbacks_keep_spark_inference(self, spark, spark_tables, tmp_path, case):
        reader = lambda p, **o: read_any(spark, p, format="parquet", **o)  # noqa: E731
        want_opts = {}
        if case == "pandas_footer":
            path = "/root/testdata/sf0.001/region.parquet"
        elif case == "glob":
            path = str(spark_tables / "multi.parquet" / "*.parquet")
        elif case == "merge_option":
            path = str(spark_tables / "multi.parquet")
            want_opts = {"mergeSchema": "true"}
        elif case == "merge_conf":
            path = str(spark_tables / "multi.parquet")
        else:
            # the file itself holds a column named like its partition dir
            spark.range(4).selectExpr("id", "id AS k").write.parquet(
                str(tmp_path / "k=1")
            )
            path = str(tmp_path)
        if case == "merge_conf":
            spark.conf.set("spark.sql.parquet.mergeSchema", "true")
        try:
            got, jobs = count_jobs(spark, lambda: reader(path, **want_opts))
            want = spark.read.options(**want_opts).parquet(path)
        finally:
            spark.conf.unset("spark.sql.parquet.mergeSchema")
        assert jobs >= 1
        _same_frame(got, want)

    def test_user_schema_is_passed_through(self, spark, spark_tables):
        path = str(spark_tables / "multi.parquet")
        got, jobs = count_jobs(
            spark, lambda: read_any(spark, path, format="parquet", schema="id long, s string")
        )
        assert got.columns == ["id", "s"]
        assert jobs == 0  # a user schema never needed inference

    def test_paths_that_are_not_plain_local(self, spark, tmp_path):
        assert _local_path(spark, "hdfs://nn:8020/data/t") is None
        assert _local_path(spark, "s3a://bucket/t") is None
        assert _local_path(spark, "relative/t.parquet") is None
        assert _local_path(spark, "/data/t/*.parquet") is None
        assert _local_path(spark, "file:///data/t") == "/data/t"
        assert _local_path(spark, "/data/t") == "/data/t"

    def test_summary_file_defers_to_inference(self, spark_tables, tmp_path):
        multi = spark_tables / "multi.parquet"
        assert _first_data_file(str(multi)).endswith(".parquet")
        (tmp_path / "_common_metadata").write_bytes(b"")
        (tmp_path / "part-0.parquet").write_bytes(b"")
        assert _first_data_file(str(tmp_path)) is None
