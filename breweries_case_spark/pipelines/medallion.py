"""Medallion pipeline: bronze → silver → gold as pure DataFrame functions.

Reproduces the reference's three processors (SURVEY §3) with the layer
semantics its tests pin down (FIXTURES.md), re-expressed Spark-first:

- bronze keeps the raw payload verbatim as one JSON string + partition date
  (reference ``breweries_bronze_processors.py:139-146``);
- silver parses the JSON **once** with ``from_json`` + a declared schema
  (vs the reference's 12 ``get_json_object`` calls — same result, 1/12th
  the parsing, reference ``breweries_silver_processors.py:36-47``),
  normalizes strings, casts coordinates, and applies the TESTED validity
  gate ``id IS NOT NULL AND id <> ''`` (reference
  ``tests/integration/test_performance.py:108-116``; the reference's code
  as written only drops nulls — SURVEY §2.3 F2 documents the divergence);
- gold aggregates count + exact distinct per (type, country, state, city,
  date) (reference ``breweries_gold_processors.py:28-45``) using
  ``countDistinct`` instead of ``size(collect_set(...))`` — identical
  values without shipping id-arrays through the shuffle (SURVEY §7.3 hard
  part 1); ``include_ids=True`` restores the array form where the set
  itself is wanted.

The three stage functions are side-effect-free plan builders; persistence
and sequencing live only in ``run_medallion``, the one entry that writes
(the reference wraps the equivalent stages in thin Airflow DAGs; any
scheduler works).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_case_spark.functions import clean_text, digits_only
from breweries_case_spark.io.writer import (
    read_partitioned,
    write_partition_overwrite,
)
from breweries_case_spark.schemas import BREWERY_PAYLOAD_SCHEMA, BRONZE_SCHEMA


def ingest_to_bronze(
    spark: SparkSession,
    records: Iterable[Mapping],
    extraction_date: _dt.date,
) -> DataFrame:
    """Raw payload → bronze rows (raw_json, extraction_date).

    Driver-side by design, exactly like the reference's API ingest
    (``breweries_bronze_processors.py:139-146``): the payload arrives on
    the driver from a REST API. For bulk backfills use
    ``spark.read.json`` over staged payload files instead — this path is
    for the api-page-sized daily ingest."""
    data = [(json.dumps(dict(r)), extraction_date) for r in records]
    return spark.createDataFrame(data, BRONZE_SCHEMA)


def bronze_to_silver(bronze: DataFrame, extraction_date: _dt.date) -> DataFrame:
    """Bronze → silver: partition-pruned scan, single JSON parse, normalize,
    cast, validity-filter."""
    parsed = (
        bronze.filter(F.col("extraction_date") == F.lit(extraction_date))
        .withColumn("p", F.from_json("raw_json", BREWERY_PAYLOAD_SCHEMA))
    )
    cleaned = parsed.select(
        clean_text(F.col("p.id")).alias("id"),
        clean_text(F.col("p.name")).alias("name"),
        clean_text(F.col("p.brewery_type"), case="lower").alias("brewery_type"),
        clean_text(F.col("p.city")).alias("city"),
        clean_text(F.col("p.state_province"), case="upper").alias("state"),
        clean_text(F.col("p.country"), case="upper").alias("country"),
        clean_text(F.col("p.postal_code")).alias("postal_code"),
        F.col("p.longitude").cast("double").alias("longitude"),
        F.col("p.latitude").cast("double").alias("latitude"),
        digits_only(F.col("p.phone")).alias("phone"),
        clean_text(F.col("p.website_url")).alias("website_url"),
        F.col("extraction_date"),
    )
    # tested semantics: null AND empty ids are invalid (SURVEY §2.3 F2)
    return cleaned.filter(F.col("id").isNotNull() & (F.col("id") != ""))


def _nonempty(df: DataFrame) -> DataFrame | None:
    """``df``, or None when it holds no rows. Only for frames read back
    from files: on the Python-RDD bronze frame the ``limit(1)`` job stops
    its Python workers mid-stream (BrokenPipe tracebacks in the driver
    log), so bronze emptiness is decided from the driver-side records."""
    return None if df.isEmpty() else df


def _persist_layer(
    df: DataFrame | None, path: str, extraction_date: _dt.date
) -> None:
    """Replace the date's partition with ``df`` (None: no rows). Dynamic
    overwrite only rewrites partitions PRESENT in the written data — so an
    empty rerun (e.g. every record failed the validity gate) would
    silently leave the previous run's partition on disk. Deleting the
    partition directory explicitly in that case keeps the
    rerun-replaces-the-date contract unconditional. (The Iceberg writer
    gets this for free: overwritePartitions of an empty frame is an
    explicit delete.)"""
    if df is None:
        part_dir = os.path.join(
            path, f"extraction_date={extraction_date.isoformat()}"
        )
        shutil.rmtree(part_dir, ignore_errors=True)
    else:
        write_partition_overwrite(df, path)


def _count_partition(
    spark: SparkSession, path: str, extraction_date: _dt.date
) -> int:
    from pyspark.errors import AnalysisException

    if not os.path.exists(path):
        return 0
    try:
        table = read_partitioned(spark, path)
    except AnalysisException:
        # directory exists but holds no data files (every partition cleared)
        return 0
    return table.filter(F.col("extraction_date") == F.lit(extraction_date)).count()


def run_medallion(
    spark: SparkSession,
    records: Iterable[Mapping],
    extraction_date: _dt.date,
    base_path: str,
) -> dict[str, int]:
    """One daily run end-to-end: ingest → bronze → silver → gold, each
    layer PERSISTED with dynamic partition overwrite and the next layer
    reading the committed files back — the reference's three Airflow tasks
    (`dags/01..03`, sequenced by ExternalTaskSensor) as one idempotent
    callable; rerunning a date replaces exactly that date's partitions in
    all three layers, including replacing them with NOTHING when the rerun
    yields no valid rows (see _persist_layer). Returns the per-layer row
    counts the reference logs as its audit
    (``breweries_bronze_processors.py:155`` — computed here from the
    written data, not by re-running the plan).

    LOCAL-FILESYSTEM paths only: the empty-rerun partition cleanup and
    the audit counts use driver-local file APIs. For object stores /
    lakehouse catalogs use ``io.writer.write_iceberg`` per layer —
    Iceberg's overwritePartitions gives the same contract
    transactionally. Guarded loudly rather than silently no-opping."""
    if "://" in base_path and not base_path.startswith("file://"):
        raise ValueError(
            "run_medallion writes via driver-local filesystem APIs; got "
            f"{base_path!r}. Use write_iceberg for object-store targets."
        )
    records = list(records)
    bronze = (
        ingest_to_bronze(spark, records, extraction_date) if records else None
    )
    _persist_layer(bronze, f"{base_path}/bronze", extraction_date)
    bronze_n = _count_partition(spark, f"{base_path}/bronze", extraction_date)

    silver = None
    if bronze_n:
        bronze_t = read_partitioned(spark, f"{base_path}/bronze")
        silver = _nonempty(bronze_to_silver(bronze_t, extraction_date))
    _persist_layer(silver, f"{base_path}/silver", extraction_date)
    silver_n = _count_partition(spark, f"{base_path}/silver", extraction_date)

    gold = None
    if silver_n:
        silver_t = read_partitioned(spark, f"{base_path}/silver")
        gold = _nonempty(silver_to_gold(silver_t, extraction_date))
    _persist_layer(gold, f"{base_path}/gold", extraction_date)

    return {
        "bronze": bronze_n,
        "silver": silver_n,
        "gold": _count_partition(spark, f"{base_path}/gold", extraction_date),
    }


def silver_to_gold(
    silver: DataFrame,
    extraction_date: _dt.date,
    include_ids: bool = False,
) -> DataFrame:
    """Silver → gold: count + exact-distinct per location/type/date
    (reference ``breweries_gold_processors.py:28-45``)."""
    aggs = [
        F.count("*").alias("brewery_count"),
        F.countDistinct("id").alias("unique_brewery_count"),
    ]
    if include_ids:
        aggs.append(F.array_sort(F.collect_set("id")).alias("brewery_ids"))
    return (
        silver.filter(F.col("extraction_date") == F.lit(extraction_date))
        .groupBy(
            "brewery_type", "country", "state", "city", "extraction_date"
        )
        .agg(*aggs)
    )


def run_medallion_snapshotted(
    spark: SparkSession,
    records: Iterable[Mapping],
    extraction_date: _dt.date,
    base_path: str,
) -> dict[str, int]:
    """``run_medallion`` on the snapshot log (``io/snapshots.py``): every
    layer write is an ATOMIC versioned commit, so a daily rerun replaces
    exactly that date's partitions while the previous run stays
    time-travel-readable — the reference's Iceberg contract
    (``breweries_bronze_processors.py:133,149-153`` + snapshot commits)
    delivered without the unresolvable jars. An empty rerun publishes an
    explicit partition delete (``commit_delete_partitions``), which the
    plain-parquet path has to emulate with directory removal
    (see ``_persist_layer``) — here it is a first-class log entry.

    The snapshot log stores partition values as strings (directory-name
    encoding); reads restore ``extraction_date`` to DATE before the next
    stage consumes it."""
    from breweries_case_spark.io.snapshots import (
        commit_delete_partitions,
        commit_overwrite_partitions,
        latest_version,
        read_snapshot,
    )

    day = extraction_date.isoformat()

    def persist(df: DataFrame | None, layer: str) -> str:
        """Commit ``df`` as the day's partition; None (no rows) deletes it."""
        tdir = f"{base_path}/{layer}"
        if df is None:
            if latest_version(tdir) is not None:
                commit_delete_partitions(tdir, [day])
        else:
            commit_overwrite_partitions(df, tdir, "extraction_date")
        return tdir

    def read_layer(tdir: str) -> DataFrame | None:
        if latest_version(tdir) is None:
            return None
        try:
            snap = read_snapshot(spark, tdir)
        except ValueError:  # snapshot exists but holds zero partitions
            return None
        return snap.withColumn(
            "extraction_date", F.col("extraction_date").cast("date")
        )

    def count_day(tdir: str) -> int:
        if latest_version(tdir) is None:
            return 0
        try:
            # manifest-level prune: only the day's own partition is ever
            # listed or read — a read-all-then-filter would pay O(history)
            # file I/O per layer per run, growing with table age
            day = read_snapshot(
                spark, tdir, partitions=[str(extraction_date)]
            )
        except ValueError:  # day absent (or table holds zero partitions)
            return 0
        return day.count()

    records = list(records)
    bronze = (
        ingest_to_bronze(spark, records, extraction_date) if records else None
    )
    bdir = persist(bronze, "bronze")
    bronze_n = count_day(bdir)

    silver = None
    if bronze_n:
        silver = _nonempty(bronze_to_silver(read_layer(bdir), extraction_date))
    sdir = persist(silver, "silver")
    silver_n = count_day(sdir)

    gold = None
    if silver_n:
        gold = _nonempty(silver_to_gold(read_layer(sdir), extraction_date))
    gdir = persist(gold, "gold")

    return {
        "bronze": bronze_n,
        "silver": silver_n,
        "gold": count_day(gdir),
    }
