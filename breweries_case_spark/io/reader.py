"""Parquet table reader over the driver's star-schema testdata.

The reference reads catalog tables via ``spark.table`` (SURVEY §2.1 S3,
reference ``src/processors/breweries_silver_processors.py:30``); here the
catalog analog is a directory of parquet files per scale factor
(``/root/testdata/sf*/{table}.parquet``, TESTDATA.md).

Schema rule: in a catalog the schema is table metadata; a bare parquet
read instead infers it from the footers with one Spark job per call.
``read_parquet`` keeps Spark's own inferred schema once per file and
session, keyed on each file's (path, size, mtime) and the parquet confs
that change inference, and hands it back to later reads of the same
files so they start no job. A rewritten file (stat change) or a flipped
conf is inferred again. Only the schema is kept, never rows or file
listings: every read still scans its parquet.

Scale note: ``spark.read.parquet`` gives vectorized scans with predicate
pushdown + column pruning for free; at 100 TB the same call pattern works
over partitioned directories / Iceberg tables — callers never hand-roll
file listings.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: session confs that change what Spark infers from the same footers
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)
#: inferred schemas kept per session (least recently used evicted first);
#: the session is held weakly, so its memo goes when the session does
_MAX_SCHEMAS = 256
_schemas: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_schemas_lock = threading.Lock()


def _schema_key(spark: SparkSession, paths: tuple[str, ...]) -> tuple | None:
    """Memo key of a read, or None when the read cannot be keyed exactly:
    a path that is not a regular file (a directory's mtime does not track
    nested files) or cannot be stat'ed."""
    files = []
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:
            return None
        if not stat.S_ISREG(st.st_mode):
            return None
        files.append((p, st.st_size, st.st_mtime_ns))
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return confs, tuple(files)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` that infers each file set's schema
    once per session (module docstring). A hit passes the kept schema to
    the reader, which then starts no footer-inference job; a read that
    cannot be keyed is left to Spark unchanged, errors included."""
    key = _schema_key(spark, paths)
    if key is None:
        return spark.read.parquet(*paths)
    schema = _memo_get(spark, key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    _memo_put(spark, key, df.schema)
    return df


def _memo_get(spark: SparkSession, key: tuple | None):
    """The memo entry under ``key`` (None: absent or unkeyable read)."""
    if key is None:
        return None
    with _schemas_lock:
        memo = _schemas.setdefault(spark, OrderedDict())
        value = memo.get(key)
        if value is not None:
            memo.move_to_end(key)
    return value


def _memo_put(spark: SparkSession, key: tuple | None, value) -> None:
    if key is None:
        return
    with _schemas_lock:
        memo = _schemas.setdefault(spark, OrderedDict())
        memo[key] = value
        if len(memo) > _MAX_SCHEMAS:
            memo.popitem(last=False)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table (SURVEY §2.1 S3). Schema comes from parquet footers,
    inferred once per file and session (``read_parquet``)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    if name == "events":
        return _load_events(spark, os.path.join(sf_dir, "events.parquet"))
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Events with ``ts`` normalized to session-TZ TIMESTAMP regardless of
    how the generator encoded it. Seen encodings across driver rounds:
    parquet TIMESTAMP(NANOS) (Spark's vectorized reader rejects it — read
    nanos as long, truncate to micros with exact integer division) and
    TIMESTAMP(MICROS) isAdjustedToUTC=false (arrives as TIMESTAMP_NTZ —
    reinterpret the wall time as UTC, matching the session timeZone=UTC the
    factory pins and the epoch values DuckDB reads from the same file)."""
    from pyspark.sql.types import LongType, TimestampNTZType

    # a file whose plain read already failed as NANOS goes straight to the
    # retry: the memo remembers it under the plain read's key, so a repeat
    # starts no failing inference job (nor logs its ERROR trace)
    key = _schema_key(spark, (path,))
    nanos_key = None if key is None else ("nanosAsLong retry", key)
    df = None
    cause = None
    if _memo_get(spark, nanos_key) is None:
        try:
            df = read_parquet(spark, path)
        except Exception as e:
            # Nanos path: unsupported type fails at footer-schema
            # resolution. Retry under nanosAsLong ONLY for that failure —
            # a missing file, corrupt footer, or permission error
            # re-raises as itself rather than surfacing as a confusing
            # second failure with the original cause discarded.
            markers = ("PARQUET_TYPE_ILLEGAL", "Illegal Parquet type", "NANOS")
            if not any(m in str(e) for m in markers):
                raise
            cause = e
            _memo_put(spark, nanos_key, True)
    if df is None:
        # Conf is captured into the relation at read time (verified: the
        # scan still executes after restore), so save/restore keeps it from
        # leaking into later unrelated nanos-parquet reads on this session.
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            try:
                df = read_parquet(spark, path)
            except Exception as retry_err:
                raise retry_err from cause
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        # Cast interprets the wall time in the session timeZone — UTC per
        # the session factory — giving the same epoch DuckDB reads.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a SMALL scan so CPU-heavy per-row work uses every core.

    Local parquet testdata arrives as one split per file, which serializes
    compute-bound expressions (shingling, hashing) onto one core. At 100 TB
    a scan has thousands of splits — more than ``defaultParallelism`` — so
    this returns the input unchanged and never injects a full-table shuffle
    at scale; the guard is what makes it safe to use unconditionally."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works against the
    same names the DuckDB oracle uses."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
