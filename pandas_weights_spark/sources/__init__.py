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


#: the footer key under which Spark's parquet writer stores its own
#: serialized schema (``ParquetReadSupport.SPARK_METADATA_KEY``)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
#: summary files Spark's schema inference reads before any data file
_SUMMARY_FILES = ("_metadata", "_common_metadata")


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (``shouldFilterOutPathName``):
    ``_``/``.`` prefixes (but not ``k=v`` partition directories) and
    in-flight ``._COPYING_`` copies. Summary files are kept."""
    if name.startswith(_SUMMARY_FILES):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _local_path(spark: SparkSession, path: str) -> str | None:
    """``path`` as an absolute local path when Spark would resolve it on
    the local file system without globbing; else None."""
    if any(ch in path for ch in "{}[]*?\\"):
        return None
    if path.startswith("file:"):
        path = path[len("file:"):]
        if path.startswith("//"):  # file:///abs → /abs
            path = path[2:]
    elif "://" in path or ":" in path.split("/", 1)[0]:
        return None
    else:
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        if not conf.get("fs.defaultFS", "file:///").startswith("file:"):
            return None
    return path if os.path.isabs(path) else None


def _first_data_file(root: str) -> str | None:
    """The file Spark's parquet schema inference reads without
    ``mergeSchema``: the first listed leaf in path-string order. None
    when the listing holds a summary file (inference reads that
    instead), a symlink, or no file."""
    if os.path.isfile(root):
        return root
    leaves = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not _hidden(x)]
        names = [*dirs, *(f for f in files if not _hidden(f))]
        if any(f in _SUMMARY_FILES for f in files) or any(
            os.path.islink(os.path.join(d, x)) for x in names
        ):
            return None
        leaves += [os.path.join(d, f) for f in files if not _hidden(f)]
    return min(leaves, default=None)


def _footer(spark: SparkSession, path: str):
    """``(spark_schema, nanos_cols)`` from the parquet footer of the file
    Spark's schema inference would read under ``path``, on the driver.

    ``spark_schema`` is the schema Spark's own writer serialized into the
    footer — exactly what inference returns for that file
    (``ParquetFileFormat.readSchemaFromFooter``) — or None when the file
    was written by another engine, the path is not a plain local path,
    ``spark.sql.parquet.mergeSchema`` is on, or a footer field shares its
    name with a partition directory. ``nanos_cols`` are the columns
    stored as TIMESTAMP(NANOS), which Spark 4 refuses unless read as
    long. ``(None, [])`` when no footer could be read."""
    import json

    from pyspark.sql.types import StructType

    local = _local_path(spark, path)
    first = _first_data_file(local) if local is not None else None
    if first is None:
        return None, []
    try:
        import pyarrow.parquet as pq

        meta = pq.read_metadata(first)
    except Exception:  # not parquet / unreadable: Spark reports it
        return None, []
    # the stored logical type, not the Arrow type: pyarrow reads Spark's
    # INT96 timestamps as nanoseconds too
    nanos = [
        col.name
        for col in map(meta.schema.column, range(meta.num_columns))
        if col.path == col.name
        and json.loads(col.logical_type.to_json()).get("timeUnit") == "nanoseconds"
    ]
    raw = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None or spark.conf.get(
        "spark.sql.parquet.mergeSchema", "false"
    ).lower() == "true":
        return None, nanos
    try:
        schema = StructType.fromJson(json.loads(raw))
    except Exception:  # legacy schema string: inference parses it
        return None, nanos
    parts = {
        seg.split("=", 1)[0].lower()
        for seg in os.path.relpath(first, local).split(os.sep)[:-1]
        if "=" in seg
    }
    if any(f.name.lower() in parts for f in schema.fields):
        return None, nanos
    return schema, nanos


def _nanos_as_micros(df: DataFrame, cols) -> DataFrame:
    from pyspark.sql import functions as F

    for c in cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table (one file or a directory of them) from a
    scale-factor directory; the schema comes from the footer as in
    :func:`read_any`.

    Nanosecond-timestamp columns (e.g. ``events.ts``) are transparently
    read via ``spark.sql.legacy.parquet.nanosAsLong`` and truncated to
    microseconds (``ns div 1000`` — floor for post-1970 values), matching
    DuckDB's TIMESTAMP_NS → TIMESTAMP cast.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, ns_cols = _footer(spark, path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return _nanos_as_micros(reader.parquet(path), ns_cols)


def load_table_stream(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Read one parquet table as a file-source *stream* (``readStream``)
    — the replay twin of :func:`load_table`, for driving the
    ``pandas_weights_spark.streaming`` operators over the test layout.

    File streams need an explicit schema; it comes from the footer of a
    Spark-written table, and from a batch reader's inference otherwise.
    Nanosecond timestamps get the same long-read + microsecond
    truncation as the batch path, so batch and stream see identical
    values.
    """
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, ns_cols = _footer(spark, path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        schema = spark.read.parquet(path).schema
    # FileStreamSource requires a *directory*; the test layout stores
    # each table as one file, so stream the directory and glob-filter to
    # the table's file.
    df = _nanos_as_micros(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir),
        ns_cols,
    )
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

    Parquet without ``schema`` or reader options launches no job: when
    the file Spark's schema inference would read (the first data file
    in path order, ``_``/``.`` names skipped) carries the schema Spark's
    own writer serialized into its footer, that schema is read on the
    driver and passed as the reader schema — it is exactly what
    inference returns. Spark's one-job inference stays for footers
    from other writers (pandas, DuckDB, Arrow), any reader option,
    ``spark.sql.parquet.mergeSchema`` on, glob or relative paths,
    non-local URIs, summary files or symlinks in the listing, and
    footer fields named like a partition directory; a ``schema=`` is
    passed through as given.
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
    if schema is None and not options and fmt.lower() == "parquet":
        schema = _footer(spark, path)[0]
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        if schema is None:
            options.setdefault("inferSchema", "true")
        if path.rstrip("/").lower().endswith(".tsv"):
            options.setdefault("sep", "\t")
    return reader.options(**options).format(fmt).load(path)
