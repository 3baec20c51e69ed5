"""Table sources.

The reference has no I/O layer at all (SURVEY.md §2.6 — it operates on
in-memory pandas objects); the engine is source-agnostic over any Spark
DataFrame. These helpers cover the driver's parquet test layout and keep
scans declarative so Catalyst applies partition pruning, predicate
pushdown, and column pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark 4 refuses them
    unless read as long. Footer-only inspection (no data I/O); ``path``
    is one parquet file or a directory of them."""
    import pyarrow.dataset as ds
    import pyarrow.types as pt

    schema = ds.dataset(path, format="parquet").schema
    return [
        f.name
        for f in schema
        if pt.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table from a scale-factor directory.

    Nanosecond-timestamp columns (e.g. ``events.ts``) are transparently
    read via ``spark.sql.legacy.parquet.nanosAsLong`` and truncated to
    microseconds (``ns div 1000`` — floor for post-1970 values), matching
    DuckDB's TIMESTAMP_NS → TIMESTAMP cast.
    """
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_timestamp_cols(path)
    if not ns_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_table_stream(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Read one parquet table as a file-source *stream* (``readStream``)
    — the replay twin of :func:`load_table`, for driving the
    ``pandas_weights_spark.streaming`` operators over the test layout.

    File streams need an explicit schema; it is taken from the parquet
    footer via a batch reader (metadata-only, no data scan). Nanosecond
    timestamps get the same long-read + microsecond truncation as the
    batch path, so batch and stream see identical values.
    """
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    # FileStreamSource requires a *directory*; the test layout stores
    # each table as one file, so stream the directory and glob-filter to
    # the table's file.
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Watermarks (EventTimeWatermark) require TIMESTAMP, not
    # TIMESTAMP_NTZ; parquet written with naive timestamps infers NTZ.
    # Cast NTZ event-time columns to the session-zoned type — with the
    # engine's pinned spark.sql.session.timeZone=UTC this is
    # value-preserving, and it is what every streaming operator needs.
    from pyspark.sql.types import TimestampNTZType

    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a NARROW scan before a compute-bound
    row-local pass (text metrics, hashing, decode).

    Why this exists: parallelism of a parquet scan comes from file
    splits, and a single small file (or one un-splittable row group) is
    ONE task — so a CPU-heavy per-row pass over it runs on one core no
    matter how many sit idle. At 100 TB the file count saturates any
    cluster and this helper is a no-op by its own guard; on few-files
    inputs the cheap round-robin exchange of the raw rows buys
    slots× wall-clock. Only use ahead of per-row deterministic
    transforms — a round-robin exchange reorders float aggregation
    otherwise.

    ``partitions`` defaults to ``sparkContext.defaultParallelism``.
    No-op when the plan already has at least that many partitions.
    """
    sc = df.sparkSession.sparkContext
    n = int(partitions or sc.defaultParallelism)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All test tables as a dict (lazy — nothing is scanned until used)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


_EXT_FORMATS = {
    ".parquet": "parquet",
    ".pq": "parquet",
    ".orc": "orc",
    ".csv": "csv",
    ".tsv": "csv",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
    ".txt": "text",
}


def read_any(
    spark: SparkSession,
    path: str,
    format: str | None = None,
    schema: str | None = None,
    **options,
):
    """Format-dispatching reader: parquet / orc / csv / tsv / json(l) /
    text by extension (or explicit ``format=``).

    Scale guidance encoded as defaults: CSV/JSON get
    ``schema`` PASSED THROUGH when given — at 100 TB ``inferSchema``
    costs a full extra scan of the data, so an explicit DDL schema is
    strongly preferred; without one, CSV falls back to header +
    inference (correct, logged by Spark as a separate job). TSV sets
    the tab separator. All other reader options pass through.
    """
    fmt = format
    if fmt is None:
        _, ext = os.path.splitext(path.rstrip("/"))
        fmt = _EXT_FORMATS.get(ext.lower())
        if fmt is None:
            raise ValueError(
                f"cannot infer format from {path!r}; pass format="
            )
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        if schema is None:
            options.setdefault("inferSchema", "true")
        if path.rstrip("/").lower().endswith(".tsv"):
            options.setdefault("sep", "\t")
    return reader.options(**options).format(fmt).load(path)
