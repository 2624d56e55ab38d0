"""Schema memo of ``io.reader.read_parquet``: a repeated scan of the same
files starts no footer-inference job, and anything that changes what
Spark would infer (a rewritten file, an inference conf) is inferred
again. Job counts come from the scheduler (``statusTracker``) under a
job group, so the gate does not depend on host load."""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from breweries_case_spark.io import reader
from breweries_case_spark.io.reader import TABLES, load_table, read_parquet


@contextlib.contextmanager
def jobs_started(spark):
    """Yields a list that holds, after the block, the number of Spark jobs
    the block started."""
    sc = spark.sparkContext
    group = f"test-reader-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    out: list[int] = []
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def test_repeated_load_table_starts_no_job(spark, sf_dir):
    for name in TABLES:
        load_table(spark, sf_dir, name)
    with jobs_started(spark) as n:
        frames = {name: load_table(spark, sf_dir, name) for name in TABLES}
        hits = {
            name: read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
            for name in TABLES
        }
    assert n == [0]
    for name in TABLES:
        plain = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        assert hits[name].schema == plain.schema, name
        assert _rows(hits[name]) == _rows(plain), name
    # a cold memo takes Spark's own inference path: same frames
    reader._schemas.pop(spark, None)
    for name in TABLES:
        cold = load_table(spark, sf_dir, name)
        assert frames[name].schema == cold.schema, name
        assert _rows(frames[name]) == _rows(cold), name


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    read_parquet(spark, path)
    with jobs_started(spark) as n:
        assert read_parquet(spark, path).columns == ["a"]
    assert n == [0]

    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    with jobs_started(spark) as n:
        df = read_parquet(spark, path)
    assert n == [1]
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_inference_conf_flip_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"hi"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prior = spark.conf.get(key, None)
    assert read_parquet(spark, path).schema["b"].dataType.typeName() == "binary"
    try:
        spark.conf.set(key, "true")
        with jobs_started(spark) as n:
            df = read_parquet(spark, path)
        assert n == [1]
        assert df.schema["b"].dataType.typeName() == "string"
        assert df.collect()[0].b == "hi"
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    with jobs_started(spark) as n:
        df = read_parquet(spark, path)
    assert n == [0]
    assert df.schema["b"].dataType.typeName() == "binary"


def test_memo_is_bounded_lru(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(reader, "_MAX_SCHEMAS", 2)
    reader._schemas.pop(spark, None)
    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"f{i}.parquet"))
        pq.write_table(pa.table({f"c{i}": [i]}), paths[-1])
        read_parquet(spark, paths[-1])
    assert len(reader._schemas[spark]) == 2
    with jobs_started(spark) as n:
        read_parquet(spark, paths[2])
        read_parquet(spark, paths[0])  # evicted first, inferred again
    assert n == [1]


def test_missing_file_raises_what_spark_raises(spark, tmp_path):
    missing = str(tmp_path / "orders.parquet")
    with pytest.raises(Exception) as plain:
        spark.read.parquet(missing)
    with pytest.raises(type(plain.value)) as memo:
        read_parquet(spark, missing)
    assert str(memo.value) == str(plain.value)
    with pytest.raises(type(plain.value)) as table:
        load_table(spark, str(tmp_path), "orders")
    assert str(table.value) == str(plain.value)


def test_events_nanos_encoding_reads_through_the_memo(spark, tmp_path):
    ns = 1_704_067_200_123_456_789  # 2024-01-01 00:00:00.123456789 UTC
    pq.write_table(
        pa.table(
            {
                "event_id": [1],
                "ts": pa.array([ns], pa.timestamp("ns", tz="UTC")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        ts = df.collect()[0].ts
        assert ts.replace(tzinfo=None) == dt.datetime(2024, 1, 1, 0, 0, 0, 123456)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None


def test_read_snapshot_keeps_each_partitions_columns(spark, tmp_path):
    from breweries_case_spark.io.snapshots import (
        commit_overwrite_partitions,
        read_snapshot,
    )

    tdir = str(tmp_path / "t")
    commit_overwrite_partitions(
        spark.createDataFrame([(1, "x", "d1")], "id long, a string, day string"),
        tdir,
        "day",
    )
    commit_overwrite_partitions(
        spark.createDataFrame([(2, 2.5, "d2")], "id long, b double, day string"),
        tdir,
        "day",
    )
    for _ in range(2):
        d1 = read_snapshot(spark, tdir, partitions=["d1"])
        d2 = read_snapshot(spark, tdir, partitions=["d2"])
        assert d1.columns == ["id", "a", "day"]
        assert d2.columns == ["id", "b", "day"]
        assert [tuple(r) for r in d1.collect()] == [(1, "x", "d1")]
        assert [tuple(r) for r in d2.collect()] == [(2, 2.5, "d2")]
    with jobs_started(spark) as n:
        read_snapshot(spark, tdir, partitions=["d1"])
        read_snapshot(spark, tdir, partitions=["d2"])
    assert n == [0]


def test_concurrent_reads_keep_the_memo_consistent(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(reader, "_MAX_SCHEMAS", 3)
    reader._schemas.pop(spark, None)
    paths = []
    for i in range(6):
        paths.append(str(tmp_path / f"f{i}.parquet"))
        pq.write_table(pa.table({f"c{i}": [i]}), paths[-1])

    def read(i: int) -> list[str]:
        return read_parquet(spark, paths[i % len(paths)]).columns

    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(read, range(48), timeout=300))
    finally:
        sys.setswitchinterval(prior)
    assert got == [[f"c{i % len(paths)}"] for i in range(48)]
    memo = reader._schemas[spark]
    assert len(memo) <= 3
    for (_confs, files), schema in memo.items():
        i = paths.index(files[0][0])
        assert schema.names == [f"c{i}"]
