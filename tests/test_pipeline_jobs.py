"""Spark job budgets and degenerate audit counts of the nightly pipelines.

Both pipelines take their audit counts from row-count Observations at the
root of the frames their writes and checkpoints materialize (module
docstrings of ``pipelines/medallion.py`` and ``pipelines/corpus.py``).

- The budgets pin the Spark jobs one pipeline call starts, counted by the
  scheduler under a job group, so they do not depend on host load. A
  count, emptiness probe or read-back job shows up as an overrun.
- The degenerate cases guard the root-only rule: ``Observation.get`` on a
  node the optimizer pruned never returns. Each call runs in a worker
  thread with a deadline, so such a regression fails the test instead of
  hanging the suite. They run with AQE off and on, since AQE prunes
  empty plan parts at runtime.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark import InheritableThread
from test_reader import jobs_started

from breweries_case_spark.io.snapshots import (
    _read_manifest,
    latest_version,
)
from breweries_case_spark.pipelines.corpus import (
    DOCS_TABLE,
    read_corpus,
    update_corpus,
)
from breweries_case_spark.pipelines.medallion import (
    run_medallion,
    run_medallion_snapshotted,
)

#: seconds a pipeline call may take before it counts as blocked
CALL_TIMEOUT_S = 300
DAY = dt.date(2024, 3, 1)
MEDALLION_PATHS = {
    "plain": run_medallion,
    "snapshotted": run_medallion_snapshotted,
}


def bounded(fn, *args, **kwargs):
    """``fn(*args, **kwargs)`` in a worker thread that inherits the
    caller's job group; fails if the call does not return in time."""
    out: dict = {}

    def call():
        try:
            out["value"] = fn(*args, **kwargs)
        except BaseException as e:  # re-raised in the caller
            out["error"] = e

    t = InheritableThread(call, daemon=True)
    t.start()
    t.join(CALL_TIMEOUT_S)
    assert not t.is_alive(), f"{fn.__name__} blocked for {CALL_TIMEOUT_S} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


@pytest.fixture(params=["aqe_off", "aqe_on"])
def aqe(spark, request):
    key = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, str(request.param == "aqe_on").lower())
    yield
    spark.conf.set(key, prior)


def _brewery(i: int, brewery_id: str | None) -> dict:
    return {
        "id": brewery_id,
        "name": f"Brewery {i}",
        "brewery_type": ("micro", "brewpub")[i % 2],
        "city": ("Portland", "Bend", "Salem")[i % 3],
        "state_province": "Oregon",
        "country": "United States",
        "longitude": "-122.5",
        "latitude": "45.5",
        "phone": "5035550100",
        "website_url": None,
    }


GOOD_DAY = [_brewery(i, f"b-{i}") for i in range(12)]
#: the same day re-delivered with every id null, empty or whitespace
BLANK_DAY = [_brewery(i, (None, "", "   ")[i % 3]) for i in range(12)]


def _shard(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def _doc(i: int, edit: bool = False) -> str:
    """A 40-token document of its own per ``i``; ``edit`` swaps the last
    token, which leaves a near-duplicate (shingle Jaccard 37/39) that the
    4×4 LSH banding finds with probability > 0.99."""
    toks = [f"w{i}t{k}" for k in range(40)]
    if edit:
        toks[-1] = "edited"
    return " ".join(toks)


BACKFILL = [(i, _doc(i), "en", "web") for i in range(1, 9)]
BENCH_TEXT = "benchmark eval question about prime numbers and their gaps"


def _bench(spark):
    toks = BENCH_TEXT.split()
    grams = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    return spark.createDataFrame([(g,) for g in sorted(grams)], "g string")


def _counts(audit: dict) -> tuple[int, ...]:
    return tuple(
        audit[k] for k in ("n_in", "n_after_gate", "n_near_dropped", "n_accepted")
    )


def _has_day(table_dir: str, day: str) -> bool:
    v = latest_version(table_dir)
    return v is not None and day in _read_manifest(table_dir, v)["partitions"]


# --- job budgets -------------------------------------------------------

#: a write job per layer, plus the schema inference of the bronze and
#: silver files the next layer reads back
MEDALLION_DAY_JOBS = {"plain": 5, "snapshotted": 5}
#: the gate-flagged and accepted checkpoints, and the docs, fingerprint
#: and bucket-state writes
CORPUS_BACKFILL_JOBS = 5
#: as the backfill, plus the near-dup tier's checkpoints and the schema
#: inference of the stored state it probes
CORPUS_NEAR_DEDUP_JOBS = 19


@pytest.mark.parametrize("path", sorted(MEDALLION_PATHS))
def test_medallion_day_job_budget(spark, tmp_path, path):
    base = str(tmp_path / "lake")
    with jobs_started(spark) as n:
        audit = bounded(MEDALLION_PATHS[path], spark, GOOD_DAY, DAY, base)
    assert audit == {"bronze": 12, "silver": 12, "gold": 6}
    assert n == [MEDALLION_DAY_JOBS[path]]


def test_corpus_backfill_job_budget(spark, tmp_path):
    c = str(tmp_path / "corpus")
    with jobs_started(spark) as n:
        audit = bounded(
            update_corpus, spark, _shard(spark, BACKFILL), c, "2026-08-01",
            persist_lsh_state=True,
        )
    assert _counts(audit) == (8, 8, 0, 8)
    assert n == [CORPUS_BACKFILL_JOBS]


def test_corpus_near_dedup_shard_job_budget(spark, tmp_path):
    c = str(tmp_path / "corpus")
    bounded(
        update_corpus, spark, _shard(spark, BACKFILL), c, "2026-08-01",
        persist_lsh_state=True,
    )
    shard = _shard(
        spark,
        [
            (20, _doc(1, edit=True), "en", "web"),  # near-dup of stored 1
            (21, _doc(30), "en", "web"),  # new
            (22, BENCH_TEXT + " indeed", "en", "web"),  # contaminated
        ],
    )
    bench = _bench(spark)
    with jobs_started(spark) as n:
        audit = bounded(
            update_corpus, spark, shard, c, "2026-08-02",
            bench_grams=bench, near_dedup=True,
        )
    assert _counts(audit) == (3, 2, 1, 1)
    assert n == [CORPUS_NEAR_DEDUP_JOBS]


# --- degenerate counts -------------------------------------------------


@pytest.mark.parametrize("path", sorted(MEDALLION_PATHS))
def test_medallion_all_blank_ids_day(spark, tmp_path, aqe, path):
    run = MEDALLION_PATHS[path]
    base = str(tmp_path / "lake")
    assert bounded(run, spark, GOOD_DAY, DAY, base) == {
        "bronze": 12, "silver": 12, "gold": 6,
    }
    assert bounded(run, spark, BLANK_DAY, DAY, base) == {
        "bronze": 12, "silver": 0, "gold": 0,
    }
    day = DAY.isoformat()
    for layer, present in (("bronze", True), ("silver", False), ("gold", False)):
        tdir = os.path.join(base, layer)
        if path == "plain":
            held = os.path.isdir(os.path.join(tdir, f"extraction_date={day}"))
        else:
            held = _has_day(tdir, day)
        assert held == present, layer


def test_corpus_shard_all_failing_the_gate(spark, tmp_path, aqe):
    c = str(tmp_path / "corpus")
    bounded(update_corpus, spark, _shard(spark, BACKFILL), c, "2026-08-01")
    day2 = [(50 + i, _doc(50 + i), "en", "web") for i in range(3)]
    assert bounded(
        update_corpus, spark, _shard(spark, day2), c, "2026-08-02"
    )["n_accepted"] == 3
    short = _shard(spark, [(i, f"too short {i}", "en", "web") for i in range(5)])
    audit = bounded(
        update_corpus, spark, short, c, "2026-08-02",
        bench_grams=_bench(spark), near_dedup=True,
    )
    assert _counts(audit) == (5, 0, 0, 0)
    assert not _has_day(os.path.join(c, DOCS_TABLE), "2026-08-02")
    assert read_corpus(spark, c).count() == len(BACKFILL)


def test_corpus_shard_all_contaminated(spark, tmp_path, aqe):
    c = str(tmp_path / "corpus")
    bounded(
        update_corpus, spark, _shard(spark, BACKFILL), c, "2026-08-01",
        persist_lsh_state=True,
    )
    dirty = _shard(
        spark,
        [(40 + i, f"{BENCH_TEXT} {_doc(40 + i)}", "en", "web") for i in range(4)],
    )
    audit = bounded(
        update_corpus, spark, dirty, c, "2026-08-02",
        bench_grams=_bench(spark), near_dedup=True,
    )
    assert _counts(audit) == (4, 0, 0, 0)
    assert not _has_day(os.path.join(c, DOCS_TABLE), "2026-08-02")


def test_corpus_shard_all_near_duplicates_of_the_corpus(spark, tmp_path, aqe):
    c = str(tmp_path / "corpus")
    bounded(
        update_corpus, spark, _shard(spark, BACKFILL), c, "2026-08-01",
        persist_lsh_state=True,
    )
    near = _shard(
        spark, [(100 + i, _doc(i, edit=True), "en", "web") for i in range(1, 6)]
    )
    audit = bounded(
        update_corpus, spark, near, c, "2026-08-02",
        bench_grams=_bench(spark), near_dedup=True,
    )
    assert _counts(audit) == (5, 5, 5, 0)
    assert not _has_day(os.path.join(c, DOCS_TABLE), "2026-08-02")
    assert read_corpus(spark, c).count() == len(BACKFILL)
