"""Snapshot-versioned parquet tables: a minimal transaction log giving
plain-parquet tables the lakehouse semantics the reference gets from
Iceberg — atomic partition-overwrite commits, snapshot isolation, time
travel, rollback, and orphan-file vacuum — with no external runtime.

Why this exists: the reference's tables are Iceberg with snapshot
commits (``sql/table/bronze_table_ddl.sql:8-11``,
``setup/create_tables_script.py:57-108``), but iceberg-spark-runtime
cannot be resolved in this sandbox (no network — see
``io/writer.py::write_iceberg``'s documented attempt). This module
implements the same PUBLIC design idea (Iceberg snapshots / Delta's
JSON log): immutable data files + a totally-ordered series of manifest
files that each describe one complete table version; committing means
atomically publishing the next manifest.

Layout::

    table_dir/
      _manifests/v00000001.json   # {"version", "committed_at",
                                  #  "partitions": {val: [data paths]}}
      data/<commit-uuid>/<pcol>=<val>/part-*.parquet

Protocol:
- **Commit** = write data files to a fresh commit dir (never touching
  live files), then publish ``v{N+1}.json`` by fully writing + fsyncing
  a sidecar and ``os.link``-ing it into place (``publish_json_excl``) —
  link(2) fails with EEXIST if the version is claimed, so POSIX
  guarantees exactly one winner AND the visible manifest is always
  complete; losers re-read the new latest manifest, re-merge their
  partition delta, and retry (optimistic concurrency, same model as
  Iceberg's commit conflict retry). Partition-overwrite semantics: touched partitions point at the
  new files, untouched partitions carry forward — the reference's
  idempotent daily-rerun contract (``breweries_bronze_processors.py:
  133,149-153``).
- **Read** = pick a manifest (latest or as-of version), union the
  per-partition file groups with the partition value restored as a
  literal column. Partition pruning happens at the MANIFEST level —
  pruned partitions cost zero file-system I/O, strictly better than
  directory listing.
- **Readers never block writers**: a snapshot read holds the file list,
  and data files are immutable; vacuum only deletes files unreferenced
  by ANY retained manifest.

Scale notes: manifests are O(partitions × files) JSON — fine for the
daily-partition cardinality this models; at true 100 TB one moves to
Iceberg's split manifests (this module is the semantic bridge until the
jars exist, exposing the same verbs as ``io/writer.py::write_iceberg``).
The per-partition union keeps plans linear in touched partitions, so
as-of reads prune before Spark ever lists a directory."""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_case_spark.io.reader import read_parquet

_MANIFEST_DIR = "_manifests"
_MAX_COMMIT_RETRIES = 20
#: vacuum only sweeps publish sidecars at least this stale — younger ones
#: may be a live commit's staged payload (fsync→link window)
TMP_SIDECAR_RETENTION_SEC = 15 * 60


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR, f"v{version:08d}.json")


def publish_json_excl(target: str, payload: dict) -> bool:
    """Atomically publish ``payload`` at ``target``, claiming it
    exclusively. Returns False if another writer already claimed it.

    The payload is fully written and fsynced to a sidecar first, then
    ``os.link`` installs it — link(2) fails with EEXIST if the target
    exists (the exclusive claim) and otherwise makes the COMPLETE file
    visible in one atomic step. A bare O_EXCL-open-then-write would
    expose an empty/partial manifest to concurrent readers (and wedge
    the table permanently if the writer died mid-dump, since every
    subsequent read parses the corrupt latest manifest)."""
    tmp = f"{target}.{uuid.uuid4().hex}.tmp"
    fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, target)
        except FileExistsError:
            return False
        except FileNotFoundError:
            # a concurrent vacuum swept our staged sidecar between fsync
            # and link (it can only do so legitimately if the sidecar
            # aged past the retention gate, i.e. this writer stalled for
            # that long) — report the claim as lost so the caller's
            # optimistic-retry loop re-reads state and re-stages
            return False
        return True
    finally:
        # the sidecar may already be gone (vacuum race AFTER a
        # successful link) — the publish still happened, don't raise
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def _list_versions(table_dir: str) -> list[int]:
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def latest_version(table_dir: str) -> int | None:
    versions = _list_versions(table_dir)
    return versions[-1] if versions else None


def stage_partition_files(
    df: DataFrame, table_dir: str, partition_col: str
) -> dict[str, list[str]]:
    """Write ``df`` to a fresh commit dir under ``table_dir/data`` and
    return the staged files keyed by partition VALUE (table-relative
    paths). Shared by trunk commits and branch commits
    (io/branches.py::commit_to_branch) so the staging protocol cannot
    drift between the two write paths."""
    commit_id = uuid.uuid4().hex
    stage = os.path.join(table_dir, "data", commit_id)
    df.write.partitionBy(partition_col).parquet(stage)
    touched: dict[str, list[str]] = {}
    for entry in os.listdir(stage):
        if not entry.startswith(f"{partition_col}="):
            continue
        val = entry.split("=", 1)[1]
        pdir = os.path.join(stage, entry)
        touched[val] = sorted(
            os.path.join("data", commit_id, entry, f)
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        )
    return touched


def commit_overwrite_partitions(
    df: DataFrame, table_dir: str, partition_col: str = "extraction_date"
) -> int:
    """Atomically commit ``df`` with dynamic partition-overwrite
    semantics; returns the new version number."""
    os.makedirs(os.path.join(table_dir, _MANIFEST_DIR), exist_ok=True)
    touched = stage_partition_files(df, table_dir, partition_col)

    for _ in range(_MAX_COMMIT_RETRIES):
        base = latest_version(table_dir)
        partitions = (
            dict(_read_manifest(table_dir, base)["partitions"])
            if base is not None
            else {}
        )
        partitions.update(touched)
        version = (base or 0) + 1
        manifest = {
            "version": version,
            "committed_at": time.time(),
            "partition_col": partition_col,
            "partitions": partitions,
        }
        target = _manifest_path(table_dir, version)
        if not publish_json_excl(target, manifest):
            continue  # lost the race — re-merge onto the new latest
        return version
    raise RuntimeError(
        f"commit to {table_dir!r} lost {_MAX_COMMIT_RETRIES} version races"
    )


def commit_delete_partitions(table_dir: str, values: list[str]) -> int:
    """Publish a version WITHOUT the given partition values — the
    explicit-delete half of the overwrite contract (an overwrite carrying
    zero rows for a partition must still remove it; Iceberg's
    overwritePartitions of an empty frame behaves the same). Data files
    stay on disk for time travel until vacuum."""
    drop = set(values)
    for _ in range(_MAX_COMMIT_RETRIES):
        base = latest_version(table_dir)
        if base is None:
            raise FileNotFoundError(f"no snapshots under {table_dir!r}")
        m = _read_manifest(table_dir, base)
        partitions = {
            k: v for k, v in m["partitions"].items() if k not in drop
        }
        version = base + 1
        target = _manifest_path(table_dir, version)
        manifest = {
            "version": version,
            "committed_at": time.time(),
            "partition_col": m["partition_col"],
            "partitions": partitions,
        }
        if not publish_json_excl(target, manifest):
            continue
        return version
    raise RuntimeError("delete-partitions commit lost every version race")


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    partitions: list[str] | None = None,
) -> DataFrame:
    """Read a table snapshot (latest, or time-travel to ``version``),
    optionally pruned to a partition-value subset AT THE MANIFEST level."""
    v = latest_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots committed under {table_dir!r}")
    m = _read_manifest(table_dir, v)
    pcol = m["partition_col"]
    items = m["partitions"].items()
    if partitions is not None:
        want = set(partitions)
        items = [(val, files) for val, files in items if val in want]
    parts = []
    for val, files in sorted(items):
        if not files:
            continue
        pdf = read_parquet(spark, *[os.path.join(table_dir, f) for f in files])
        parts.append(pdf.withColumn(pcol, F.lit(val)))
    if not parts:
        raise ValueError(
            f"snapshot v{v} of {table_dir!r} has no matching partitions"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact_partitions(
    spark: SparkSession,
    table_dir: str,
    values: list[str] | None = None,
    target_files: int = 1,
) -> int:
    """Small-file compaction as a COMMIT (Iceberg's ``rewrite_data_files``
    analog on the snapshot log): rewrite each selected partition's file
    set into ``target_files`` files and publish a new version whose
    content is bit-for-bit the same rows. Readers of older versions keep
    the original files (vacuum reclaims them later); a concurrent
    overwrite of the same partition wins harmlessly — the retry re-reads
    the latest manifest and SKIPS partitions whose file list changed
    since the rewrite was planned, so compaction never clobbers newer
    data (the same no-lost-update rule Iceberg enforces via sequence
    numbers)."""
    base = latest_version(table_dir)
    if base is None:
        raise FileNotFoundError(f"no snapshots under {table_dir!r}")
    m = _read_manifest(table_dir, base)
    pcol = m["partition_col"]
    todo = {
        val: files
        for val, files in m["partitions"].items()
        if files and (values is None or val in values)
    }
    commit_id = uuid.uuid4().hex
    rewritten: dict[str, tuple[list[str], list[str]]] = {}
    for val, files in todo.items():
        out_dir = os.path.join(
            table_dir, "data", commit_id, f"{pcol}={val}"
        )
        read_parquet(
            spark, *[os.path.join(table_dir, f) for f in files]
        ).coalesce(target_files).write.parquet(out_dir)
        new_files = sorted(
            os.path.join("data", commit_id, f"{pcol}={val}", f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        )
        rewritten[val] = (files, new_files)

    for _ in range(_MAX_COMMIT_RETRIES):
        cur = latest_version(table_dir)
        curm = _read_manifest(table_dir, cur)
        partitions = dict(curm["partitions"])
        for val, (old_files, new_files) in rewritten.items():
            # no-lost-update: only swap if the partition still holds
            # exactly the files this rewrite was planned against
            if partitions.get(val) == old_files:
                partitions[val] = new_files
        version = cur + 1
        manifest = {
            "version": version,
            "committed_at": time.time(),
            "partition_col": curm["partition_col"],
            "partitions": partitions,
            "compaction_of": base,
        }
        target = _manifest_path(table_dir, version)
        if not publish_json_excl(target, manifest):
            continue
        return version
    raise RuntimeError("compaction commit lost every version race")


def snapshot_diff(
    spark: SparkSession, table_dir: str, v_from: int, v_to: int
) -> DataFrame:
    """Row-level change feed between two versions: every row with a
    ``_change`` column of 'insert' or 'delete' (an update appears as
    delete+insert — the minimal CDF encoding downstream incremental
    consumers need, cf. ``pipelines/incremental.py``'s mergeable-state
    discipline).

    MANIFEST-level pruning first: partitions whose file lists are
    identical in both versions are skipped without touching parquet — a
    daily-partitioned table diff therefore reads only the few changed
    days, O(changed data) not O(table). Within changed partitions the
    diff is exceptAll both ways (exact multiset semantics)."""
    m_from = _read_manifest(table_dir, v_from)
    m_to = _read_manifest(table_dir, v_to)
    pcol = m_from["partition_col"]
    p_from = m_from["partitions"]
    p_to = m_to["partitions"]
    changed = [
        val
        for val in set(p_from) | set(p_to)
        if p_from.get(val) != p_to.get(val)
    ]

    def _load(partitions: dict, vals: list[str]) -> DataFrame | None:
        parts = []
        for val in sorted(vals):
            files = partitions.get(val) or []
            if files:
                parts.append(
                    read_parquet(
                        spark, *[os.path.join(table_dir, f) for f in files]
                    ).withColumn(pcol, F.lit(val))
                )
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    old = _load(p_from, changed)
    new = _load(p_to, changed)
    if old is None and new is None:
        raise ValueError(
            f"versions v{v_from} and v{v_to} of {table_dir!r} are identical"
        )
    if old is None:
        return new.withColumn("_change", F.lit("insert"))
    if new is None:
        return old.withColumn("_change", F.lit("delete"))
    inserts = new.exceptAll(old).withColumn("_change", F.lit("insert"))
    deletes = old.exceptAll(new).withColumn("_change", F.lit("delete"))
    return inserts.unionByName(deletes)


def rollback(table_dir: str, to_version: int) -> int:
    """Publish a NEW version whose content is ``to_version``'s — history
    stays append-only (the Iceberg rollback model), so the bad version
    remains inspectable and vacuum rules stay simple."""
    m = _read_manifest(table_dir, to_version)
    for _ in range(_MAX_COMMIT_RETRIES):
        version = (latest_version(table_dir) or 0) + 1
        manifest = {
            "version": version,
            "committed_at": time.time(),
            "partition_col": m["partition_col"],
            "partitions": m["partitions"],
            "rollback_of": to_version,
        }
        target = _manifest_path(table_dir, version)
        if not publish_json_excl(target, manifest):
            continue
        return version
    raise RuntimeError("rollback lost every version race")


def history(table_dir: str) -> list[dict]:
    """Commit log, oldest first: version, committed_at, partition count."""
    out = []
    for v in _list_versions(table_dir):
        m = _read_manifest(table_dir, v)
        out.append(
            {
                "version": v,
                "committed_at": m["committed_at"],
                "n_partitions": len(m["partitions"]),
                "rollback_of": m.get("rollback_of"),
            }
        )
    return out


def vacuum(table_dir: str, keep_versions: int = 2) -> list[str]:
    """Delete data files unreferenced by the newest ``keep_versions``
    manifests (and drop the older manifests); returns deleted paths.
    Never touches files any retained snapshot can still read.

    Branch-aware (io/branches.py): every file referenced by any branch
    manifest stays live, and trunk manifests that are a branch's
    divergence point are retained beyond ``keep_versions`` — a branch
    can never have data or its merge base vacuumed from under it.

    Also sweeps orphaned ``*.tmp`` publish sidecars (a writer that died
    between staging and ``os.link`` leaves one; readers ignore them, so
    they are junk, not state) — but only ones older than
    ``TMP_SIDECAR_RETENTION_SEC``: a fresh sidecar may belong to a
    commit IN FLIGHT between fsync and link, and deleting it would make
    that commit's ``os.link`` fail spuriously."""
    versions = _list_versions(table_dir)
    if not versions:
        return []
    now = time.time()
    # sweep roots: trunk manifests + each branch's manifests AND its ref
    # dir itself (merge_branch stages meta.json rewrites there)
    for root in [os.path.join(table_dir, _MANIFEST_DIR)] + [
        os.path.join(table_dir, "_refs", b, sub)
        for b in (
            os.listdir(os.path.join(table_dir, "_refs"))
            if os.path.isdir(os.path.join(table_dir, "_refs"))
            else []
        )
        for sub in ("manifests", "")
    ]:
        # the isdir→listdir window can race delete_branch's rmtree — a
        # vanished dir has nothing to sweep
        try:
            names = os.listdir(root)
        except (FileNotFoundError, NotADirectoryError):
            continue
        for name in names:
            if name.endswith(".tmp"):
                full = os.path.join(root, name)
                with contextlib.suppress(FileNotFoundError):
                    if now - os.stat(full).st_mtime > TMP_SIDECAR_RETENTION_SEC:
                        os.unlink(full)
    kept = set(versions[-keep_versions:])
    live: set[str] = set()
    refs_root = os.path.join(table_dir, "_refs")
    if os.path.isdir(refs_root):
        for branch in os.listdir(refs_root):
            # a branch may be delete_branch()ed (rmtree) between the
            # listdir above and these reads — a vanished branch has
            # simply released its claims, so skip it rather than crash
            # mid-sweep
            bdir = os.path.join(refs_root, branch)
            meta_path = os.path.join(bdir, "meta.json")
            # try/except scoped to the meta read ONLY: a partially
            # rmtree'd branch (meta deleted first, manifests still
            # present) must STILL honor the manifests dir's live-file
            # claims below — skipping the whole branch here treated its
            # data files as unclaimed and deleted them. The creation-race
            # direction is closed on the other side: create_branch
            # publishes meta.json BEFORE the manifests dir exists, so a
            # branch is never visible without its created_from claim.
            try:
                with open(meta_path) as f:
                    base_v = json.load(f)["created_from"]
                if base_v in versions:
                    kept.add(base_v)
            except FileNotFoundError:
                pass
            mdir = os.path.join(bdir, "manifests")
            if os.path.isdir(mdir):
                for name in os.listdir(mdir):
                    if name.startswith("v") and name.endswith(".json"):
                        try:
                            with open(os.path.join(mdir, name)) as f:
                                for files in json.load(f)["partitions"].values():
                                    live.update(files)
                        except FileNotFoundError:
                            continue
    for v in kept:
        for files in _read_manifest(table_dir, v)["partitions"].values():
            live.update(files)
    deleted = []
    data_root = os.path.join(table_dir, "data")
    for dirpath, _dirnames, filenames in os.walk(data_root):
        for name in filenames:
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, table_dir)
            if name.endswith(".parquet") and rel not in live:
                os.remove(full)
                deleted.append(rel)
    for v in versions:
        if v not in kept:
            os.remove(_manifest_path(table_dir, v))
    return deleted


def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered demonstration (rows-only: write-side effects): commit
    January's first two days of orders as v1, overwrite day 2 and add
    day 3 as v2, then read BOTH snapshots — output is per-day order
    counts per version, proving time travel sees v1's day-2 rows after
    v2 replaced them, and that untouched day 1 carried forward."""
    import tempfile

    from breweries_case_spark.io.reader import load_table

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "day", F.to_date(F.col("o_orderdate")).cast("string")
    )
    # the three busiest days (deterministic tie-break by day) so the v2
    # reduction below is guaranteed strict at every scale factor
    days = [
        r.day
        for r in orders.groupBy("day")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "day")
        .limit(3)
        .collect()
    ]
    d1, d2, d3 = sorted(days)
    tdir = tempfile.mkdtemp(prefix="snap_")
    commit_overwrite_partitions(
        orders.filter(F.col("day").isin([d1, d2])), tdir, "day"
    )
    # v2 rewrites d2/d3 down to exactly the min-orderkey row per day
    keep_min = orders.filter(F.col("day").isin([d2, d3])).join(
        orders.filter(F.col("day").isin([d2, d3]))
        .groupBy("day")
        .agg(F.min("o_orderkey").alias("o_orderkey")),
        ["day", "o_orderkey"],
        "left_semi",
    )
    commit_overwrite_partitions(keep_min, tdir, "day")
    v1 = read_snapshot(spark, tdir, version=1).groupBy("day").agg(
        F.count("*").alias("n")
    ).withColumn("version", F.lit(1))
    v2 = read_snapshot(spark, tdir).groupBy("day").agg(
        F.count("*").alias("n")
    ).withColumn("version", F.lit(2))
    out = v1.unionByName(v2).select("version", "day", "n")
    # materialize (tiny) so the scratch table can be removed before the
    # driver collects — without this every run leaks a snap_* dir
    rows = out.collect()
    import shutil

    shutil.rmtree(tdir, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


def q_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed GENERATION between two snapshot versions — the
    Delta CDF / Iceberg changelog analog, derived purely from the
    snapshot log (no write-side change tracking needed): commit v1
    (days 1-2 of orders), commit v2 (day 2 rewritten to even-orderkey
    rows repriced ×1.1 in exact decimal; day 3 added; day 1 carried),
    then DIFF the two version reads with one full-outer join on the row
    key — v1-only rows are deletes, v2-only inserts, content-changed
    rows updates, identical rows (the carried day 1) drop out. Output:
    per-(day, op) change counts, a deterministic function of orders the
    oracle recomputes directly.

    Scale shape: the diff is one key-equi full-outer join between two
    snapshot reads — at 100 TB BOTH sides prune to the partitions whose
    FILE LISTS differ between the manifests first (day 1's identical
    files can be skipped without scanning), so the join cost tracks the
    changed data, not the table. The row-level compare here is the
    post-prune semantic core."""
    import shutil
    import tempfile

    from breweries_case_spark.io.reader import load_table

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "day", F.to_date(F.col("o_orderdate")).cast("string")
    )
    days = [
        r.day
        for r in orders.groupBy("day")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "day")
        .limit(3)
        .collect()
    ]
    d1, d2, d3 = sorted(days)
    tdir = tempfile.mkdtemp(prefix="snapcdf_")
    try:
        commit_overwrite_partitions(
            orders.filter(F.col("day").isin([d1, d2])), tdir, "day"
        )
        repriced = (
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.1").cast("decimal(3,2)")
        ).cast("double")
        v2_d2 = (
            orders.filter((F.col("day") == d2) & (F.col("o_orderkey") % 2 == 0))
            .withColumn("o_totalprice", repriced)
        )
        commit_overwrite_partitions(
            v2_d2.unionByName(orders.filter(F.col("day") == d3)), tdir, "day"
        )
        cols = ["o_orderkey", "day", "o_totalprice"]
        v1 = read_snapshot(spark, tdir, version=1).select(*cols)
        v2 = read_snapshot(spark, tdir, version=2).select(*cols)
        a = v1.select(
            F.col("o_orderkey").alias("k"),
            F.col("day").alias("day_a"),
            F.col("o_totalprice").alias("price_a"),
        )
        b = v2.select(
            F.col("o_orderkey").alias("k"),
            F.col("day").alias("day_b"),
            F.col("o_totalprice").alias("price_b"),
        )
        diff = (
            a.join(b, "k", "full_outer")
            .select(
                F.coalesce("day_a", "day_b").alias("day"),
                F.when(F.col("day_b").isNull(), "delete")
                .when(F.col("day_a").isNull(), "insert")
                .when(F.col("price_a") != F.col("price_b"), "update")
                .alias("op"),
            )
            .filter(F.col("op").isNotNull())  # identical rows: no change
        )
        out = diff.groupBy("day", "op").agg(F.count("*").alias("n"))
        rows = out.collect()  # tiny; materialize before scratch removal
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tdir, ignore_errors=True)


QUERIES = {
    "q_snapshot_time_travel": q_snapshot_time_travel,
    "q_snapshot_changes": q_snapshot_changes,
}

#: oracle added round 4 (previously rows-only): the demonstration's output
#: is a deterministic function of orders — the oracle recomputes the
#: expected per-day counts of BOTH snapshot versions directly, so the
#: driver value-checks the ACID overwrite/carry-forward semantics, not
#: just row counts.

ORACLES: dict[str, str] = {
    "q_snapshot_time_travel": """
        WITH d AS (
            SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
                   COUNT(*) AS n
            FROM orders GROUP BY 1),
        top3 AS (SELECT day, n FROM d ORDER BY n DESC, day LIMIT 3),
        s AS (SELECT day, n, ROW_NUMBER() OVER (ORDER BY day) AS rk
              FROM top3)
        SELECT 1 AS version, day, n FROM s WHERE rk <= 2
        UNION ALL
        SELECT 2 AS version, day,
               CASE WHEN rk = 1 THEN n ELSE 1 END AS n
        FROM s
    """,
    # CDF diff recomputed from orders: day2 odd keys were dropped by the
    # rewrite (deletes), day2 even keys were repriced (updates), day3 is
    # new (inserts); carried day1 produces no change rows at all.
    "q_snapshot_changes": """
        WITH counts AS (
            SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
                   COUNT(*) AS n
            FROM orders GROUP BY 1),
        top3 AS (SELECT day FROM counts ORDER BY n DESC, day LIMIT 3),
        ds AS (SELECT list_sort(list(day)) AS l FROM top3),
        base AS (
            SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
                   o_orderkey
            FROM orders)
        SELECT (SELECT l[2] FROM ds) AS day, 'delete' AS op,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base WHERE day = (SELECT l[2] FROM ds) AND o_orderkey % 2 = 1
        HAVING COUNT(*) > 0
        UNION ALL
        SELECT (SELECT l[2] FROM ds), 'update', COUNT(*)
        FROM base WHERE day = (SELECT l[2] FROM ds) AND o_orderkey % 2 = 0
        HAVING COUNT(*) > 0
        UNION ALL
        SELECT (SELECT l[3] FROM ds), 'insert', COUNT(*)
        FROM base WHERE day = (SELECT l[3] FROM ds)
        HAVING COUNT(*) > 0
    """,
}
