"""Batch table I/O: schema-explicit readers and writers.

The reference engine's I/O surface is its host dataframe library's (configs
are YAML; tables arrive as in-memory frames).  On Spark the equivalent
surface is the DataFrameReader/Writer — these helpers pin the pipeline
defaults so every entry point behaves the same way:

* parquet is the canonical interchange format (typed, splittable,
  column-pruned and predicate-pushed at the scan);
* ``jsonl`` (newline-delimited JSON) round-trips nested types; schemas
  should still be passed explicitly on read — schema inference is a full
  extra pass over 100 TB;
* csv is header-ful and requires an explicit schema on read (inference is
  both a full pass AND lossy — everything nullable-string without it);
* orc is the second columnar format (built into Spark, same pushdown and
  pruning machinery as parquet) for warehouses already standardized on it;
* ``text`` reads/writes raw line-per-row files as a single ``value``
  string column — the raw-corpus ingestion format (wrap with a
  ``line_filter``/``select`` step immediately after).

``FAILFAST`` is the default read mode: silently null-ing malformed rows
(Spark's default PERMISSIVE) is the wrong default for training-data
pipelines, where a bad decode should stop the job, not poison the corpus.
Pass ``mode="PERMISSIVE"`` explicitly to opt in to salvage semantics.

:func:`read_parquet` is the table reader for named parquet files: it keeps a
schema catalog so only a file's first read pays Spark's footer-reading
schema-inference job.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_FORMATS = ("parquet", "csv", "jsonl", "orc", "text")

#: Session confs that change the schema Spark infers from a parquet footer;
#: their values are part of every catalog key.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_GLOB_CHARS = frozenset("{}[]*?\\")
_CATALOG_SIZE = 256
_catalog: OrderedDict[tuple, StructType] = OrderedDict()
_catalog_lock = threading.Lock()


def _catalog_key(spark: SparkSession, path: str) -> tuple | None:
    """Validity key of a local regular file's inferred schema, or ``None``
    for anything else (relative paths, globs, URIs, directories): those are
    read by inference every time."""
    if not os.path.isabs(path) or _GLOB_CHARS.intersection(path):
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(k) for k in _PARQUET_INFERENCE_CONFS)
    return (os.path.realpath(path), st.st_ino, st.st_mtime_ns, st.st_size) + confs


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read one parquet table, inferring its schema only on the file's first read.

    The first read is a plain ``spark.read.parquet(path)``, so Spark itself
    infers the schema (a footer-reading Spark job); the schema is kept in a
    process-wide LRU catalog of :data:`_CATALOG_SIZE` entries.  Later reads
    pass it back through ``spark.read.schema(...)``, which launches no job
    and yields the same relation.  Only metadata is cached, never data or
    plans.  The key is the file's ``(realpath, inode, mtime_ns, size)`` plus
    the session values of :data:`_PARQUET_INFERENCE_CONFS`, so rewriting the
    file or flipping one of those confs infers again.  Directories, globs,
    relative paths and URIs are read by inference every time.
    """
    key = _catalog_key(spark, path)
    if key is not None:
        with _catalog_lock:
            schema = _catalog.get(key)
            if schema is not None:
                _catalog.move_to_end(key)
        if schema is not None:
            return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        schema = df.schema
        with _catalog_lock:
            _catalog[key] = schema
            while len(_catalog) > _CATALOG_SIZE:
                _catalog.popitem(last=False)
    return df


def read_table(
    spark: SparkSession,
    path: str,
    *,
    format: str = "parquet",
    schema: str | None = None,
    **options,
) -> DataFrame:
    """Read a table; ``schema`` is a DDL string (required for csv/jsonl
    unless ``infer=True`` was deliberately chosen via options)."""
    if format not in _FORMATS:
        raise ValueError(f"format must be one of {_FORMATS}, got {format!r}")
    reader = spark.read
    if format == "csv":
        opts = {"header": "true", "mode": "FAILFAST", **options}
        reader = reader.options(**opts)
        if schema is None and opts.get("inferSchema") != "true":
            raise ValueError(
                "csv reads need an explicit DDL schema (or inferSchema='true', "
                "which costs a full extra pass and types everything it can't "
                "parse as string)"
            )
    elif format == "jsonl":
        reader = reader.options(**{"mode": "FAILFAST", **options})
    elif format == "text":
        if schema is not None:
            raise ValueError(
                "text sources are always a single `value` string column — "
                "a schema cannot be applied (project/parse in a later step)"
            )
        reader = reader.options(**options)
    else:
        reader = reader.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    fmt = "json" if format == "jsonl" else format
    return reader.format(fmt).load(path)


def write_table(
    df: DataFrame,
    path: str,
    *,
    format: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    if format not in _FORMATS:
        raise ValueError(f"format must be one of {_FORMATS}, got {format!r}")
    if format == "text" and [f.name for f in df.schema.fields] != ["value"]:
        raise ValueError(
            "text sinks take exactly one string column named 'value'; "
            f"got {df.columns} (select/alias it first)"
        )
    writer = df.write.mode(mode)
    if format == "csv":
        writer = writer.options(**{"header": "true", **options})
    else:
        writer = writer.options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    fmt = "json" if format == "jsonl" else format
    writer.format(fmt).save(path)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to ``TimestampType`` (session-tz, µs).

    The synthetic ``events`` table has shipped with two physical layouts:
    parquet TIMESTAMP(NANOS) — which Spark can only read as a raw ``bigint``
    of nanoseconds (``spark.sql.legacy.parquet.nanosAsLong``) — and parquet
    TIMESTAMP(MICROS), which reads as ``timestamp_ntz``.  Downstream code
    (windows, watermarks, as-of joins) assumes one type; this converts
    either layout to plain ``timestamp``, exact in both directions (ns → µs
    is integer division; ntz → tz is an identity under the pipeline's UTC
    session zone).
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(col)
    if dt == "bigint":  # nanos-as-long legacy layout
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str]) -> None:
    """Expose parquet tables as temp views so ``spark.sql`` queries run
    against them by bare name (the oracle-side setup, Spark-side)."""
    for t in tables:
        read_parquet(spark, f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
