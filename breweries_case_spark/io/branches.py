"""Git-like branches over snapshot-versioned tables — the Nessie analog
(VERDICT r3 "missing #3"): the reference catalogs its Iceberg tables
through Nessie (`trino/etc/catalog/iceberg.properties:2-6`), whose core
idea is named refs over an immutable commit store — experiment on a
branch against production data, then merge or discard, without ever
copying data files.

This module re-expresses that PUBLIC design (Nessie refs / git branches)
on `io/snapshots.py`'s manifest log:

Layout (extends the snapshot layout)::

    table_dir/
      _manifests/v*.json            # trunk ("main") — unchanged
      _refs/<branch>/meta.json      # {"created_from": trunk version}
      _refs/<branch>/manifests/v*.json  # branch-local commit chain
      data/<commit-uuid>/...        # SHARED immutable data files

Protocol:
- **Create** claims ``_refs/<name>/meta.json`` via O_EXCL (exactly one
  creator) recording the trunk version the branch diverged from.
- **Branch commit** carries forward from the branch head (or the
  divergence-point trunk manifest if the branch has no commits yet) and
  publishes the next branch-local manifest via the same
  O_EXCL-claim-and-retry as trunk commits. Data files land in the shared
  ``data/`` dir — isolation is purely at the manifest layer, exactly as
  in Nessie, so a branch costs zero data copies.
- **Read** resolves a ref name to its head manifest; trunk reads
  (`read_snapshot`) never see branch manifests — isolation both ways.
- **Merge into trunk** is Nessie's content-level three-way merge at
  partition granularity: base = the recorded divergence point, ours =
  trunk head, theirs = branch head. A partition changed on one side
  takes that side's files; changed on BOTH sides (to different content)
  raises ``MergeConflict`` listing the partitions — no silent
  last-writer-wins. The merged manifest publishes through the trunk's
  own optimistic-retry commit path, and the branch's divergence point
  advances so repeated merge cycles stay three-way.
- **Vacuum safety**: `snapshots.vacuum` retains every file referenced by
  any branch manifest (see its branch-aware live-set), so a branch can
  never have its data deleted from under it.

Scale notes: refs and manifests are metadata — O(partitions) JSON per
commit, zero data movement per branch/merge. At 100 TB this is the whole
point: an experiment branch over a petabyte table is a handful of JSON
files, and the merge publishes pointers, not rewrites."""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from breweries_case_spark.io.reader import read_parquet
from breweries_case_spark.io.snapshots import (
    _MAX_COMMIT_RETRIES,
    _read_manifest,
    latest_version,
    publish_json_excl,
    read_snapshot,
)

_REFS_DIR = "_refs"


class MergeConflict(Exception):
    """Both trunk and branch changed the same partitions since the
    divergence point; carries the conflicting partition values."""

    def __init__(self, partitions: list[str]):
        super().__init__(
            "trunk and branch both changed partitions: "
            + ", ".join(sorted(partitions))
        )
        self.partitions = sorted(partitions)


def _branch_dir(table_dir: str, name: str) -> str:
    return os.path.join(table_dir, _REFS_DIR, name)


def _branch_manifest_dir(table_dir: str, name: str) -> str:
    return os.path.join(_branch_dir(table_dir, name), "manifests")


def _branch_versions(table_dir: str, name: str) -> list[int]:
    mdir = _branch_manifest_dir(table_dir, name)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )


def _read_branch_manifest(table_dir: str, name: str, version: int) -> dict:
    path = os.path.join(
        _branch_manifest_dir(table_dir, name), f"v{version:08d}.json"
    )
    with open(path) as f:
        return json.load(f)


def _read_meta(table_dir: str, name: str) -> dict:
    with open(os.path.join(_branch_dir(table_dir, name), "meta.json")) as f:
        return json.load(f)


def list_branches(table_dir: str) -> list[str]:
    refs = os.path.join(table_dir, _REFS_DIR)
    if not os.path.isdir(refs):
        return []
    return sorted(
        d
        for d in os.listdir(refs)
        if os.path.isfile(os.path.join(refs, d, "meta.json"))
    )


def create_branch(
    table_dir: str, name: str, from_version: int | None = None
) -> int:
    """Create ``name`` pointing at trunk ``from_version`` (default:
    latest). O_EXCL on meta.json makes creation atomic and unique.
    Returns the divergence version.

    meta.json is published BEFORE the manifests dir exists: meta's
    ``created_from`` is the branch's only claim on trunk files until its
    first commit, so a vacuum racing creation must be able to read it the
    instant the branch becomes visible — the old manifests-first order
    left a window where a commit-less branch on an old base had NO
    readable claim and vacuum could reclaim its divergence point. Every
    reader tolerates the inverse window (meta present, manifests absent:
    ``_branch_versions`` returns [], and ``commit_to_branch`` makedirs
    defensively)."""
    base = latest_version(table_dir) if from_version is None else from_version
    if base is None:
        raise FileNotFoundError(f"no trunk snapshots under {table_dir!r}")
    bdir = _branch_dir(table_dir, name)
    os.makedirs(bdir, exist_ok=True)
    meta_path = os.path.join(bdir, "meta.json")
    if not publish_json_excl(
        meta_path, {"created_from": base, "created_at": time.time()}
    ):
        raise FileExistsError(meta_path)
    os.makedirs(os.path.join(bdir, "manifests"), exist_ok=True)
    return base


def _head_partitions(table_dir: str, name: str) -> tuple[dict, str]:
    """Branch head's partition map + partition column (falling back to
    the divergence-point trunk manifest for a commit-less branch)."""
    versions = _branch_versions(table_dir, name)
    if versions:
        m = _read_branch_manifest(table_dir, name, versions[-1])
    else:
        m = _read_manifest(table_dir, _read_meta(table_dir, name)["created_from"])
    return dict(m["partitions"]), m["partition_col"]


def commit_to_branch(
    df: DataFrame,
    table_dir: str,
    name: str,
    partition_col: str = "extraction_date",
) -> int:
    """Partition-overwrite commit onto a branch: data files go to the
    SHARED data dir; only the branch's manifest chain advances. Same
    O_EXCL optimistic-retry protocol as trunk commits."""
    from breweries_case_spark.io.snapshots import stage_partition_files

    touched = stage_partition_files(df, table_dir, partition_col)

    mdir = _branch_manifest_dir(table_dir, name)
    # meta-first creation means the dir may not exist yet (see
    # create_branch); make it here rather than assuming creation order
    os.makedirs(mdir, exist_ok=True)
    for _ in range(_MAX_COMMIT_RETRIES):
        partitions, pcol = _head_partitions(table_dir, name)
        partitions.update(touched)
        versions = _branch_versions(table_dir, name)
        version = (versions[-1] if versions else 0) + 1
        target = os.path.join(mdir, f"v{version:08d}.json")
        manifest = {
            "version": version,
            "committed_at": time.time(),
            "partition_col": partition_col,
            "partitions": partitions,
        }
        if not publish_json_excl(target, manifest):
            continue
        return version
    raise RuntimeError(
        f"branch commit to {name!r} lost {_MAX_COMMIT_RETRIES} version races"
    )


def read_branch(
    spark: SparkSession, table_dir: str, name: str
) -> DataFrame:
    """Read the branch head (the divergence-point trunk snapshot if the
    branch has no commits yet). Trunk reads never see branch state and
    vice versa — manifest-level isolation."""
    import pyspark.sql.functions as F

    versions = _branch_versions(table_dir, name)
    if not versions:
        return read_snapshot(
            spark, table_dir, version=_read_meta(table_dir, name)["created_from"]
        )
    m = _read_branch_manifest(table_dir, name, versions[-1])
    pcol = m["partition_col"]
    parts = []
    for val, files in sorted(m["partitions"].items()):
        if not files:
            continue
        pdf = read_parquet(
            spark, *[os.path.join(table_dir, f) for f in files]
        )
        parts.append(pdf.withColumn(pcol, F.lit(val)))
    if not parts:
        raise ValueError(f"branch {name!r} head has no partitions")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def merge_branch(table_dir: str, name: str) -> int:
    """Three-way merge of the branch into trunk at partition
    granularity. Returns the new trunk version; raises ``MergeConflict``
    if trunk and branch both changed a partition to different content.

    After a successful merge the branch is FAST-FORWARDED onto the merge
    result: its divergence point advances to the merged trunk version
    AND its head is republished as the merged partition map (git's
    post-merge state — branch and trunk coincide until either commits
    again). Advancing only the base while leaving a stale head would
    make the next merge read every trunk partition the branch never saw
    as a branch-side DELETION and silently drop it — the repeated-merge
    data-loss path ``test_merge_cycles_preserve_trunk_divergence``
    pins."""
    meta = _read_meta(table_dir, name)
    base_m = _read_manifest(table_dir, meta["created_from"])
    base = base_m["partitions"]
    theirs, pcol = _head_partitions(table_dir, name)

    from breweries_case_spark.io.snapshots import _manifest_path

    for _ in range(_MAX_COMMIT_RETRIES):
        trunk_v = latest_version(table_dir)
        ours_m = _read_manifest(table_dir, trunk_v)
        ours = dict(ours_m["partitions"])

        merged = dict(ours)
        conflicts = []
        for key in set(base) | set(ours) | set(theirs):
            b, o, t = base.get(key), ours.get(key), theirs.get(key)
            branch_changed = t != b
            trunk_changed = o != b
            if branch_changed and trunk_changed and t != o:
                conflicts.append(key)
            elif branch_changed:
                if t is None:
                    merged.pop(key, None)
                else:
                    merged[key] = t
            # trunk-only changes are already in `merged` (copied from ours)
        if conflicts:
            raise MergeConflict(conflicts)

        version = trunk_v + 1
        manifest = {
            "version": version,
            "committed_at": time.time(),
            "partition_col": pcol,
            "partitions": merged,
            "merged_from": name,
        }
        target = _manifest_path(table_dir, version)
        if not publish_json_excl(target, manifest):
            continue
        # fast-forward the branch onto the merge result: advance the
        # divergence point AND republish the head as the merged map.
        # The two must move TOGETHER: if a concurrent commit_to_branch
        # claims this head version first, advancing created_from anyway
        # would pair the new base with a head built on the PRE-merge
        # map, so the next merge reads every partition that head never
        # saw as a branch-side deletion and silently drops trunk data
        # (the test_merge_cycles_preserve_trunk_divergence loss mode,
        # reintroduced under a race). On a lost race we leave the
        # branch DIVERGENT instead — base and head still agree, and the
        # next merge's three-way walk handles the already-landed keys
        # as t == o (same change both sides, no conflict, no loss). The
        # only cost is a possible surfaced MergeConflict if trunk later
        # rewrites one of those keys again — recoverable, unlike loss.
        mdir = _branch_manifest_dir(table_dir, name)
        bversions = _branch_versions(table_dir, name)
        bversion = (bversions[-1] if bversions else 0) + 1
        btarget = os.path.join(mdir, f"v{bversion:08d}.json")
        ff_won = publish_json_excl(
            btarget,
            {
                "version": bversion,
                "committed_at": time.time(),
                "partition_col": pcol,
                "partitions": merged,
                "fast_forward_of": version,
            },
        )
        if ff_won:
            meta_path = os.path.join(
                _branch_dir(table_dir, name), "meta.json"
            )
            # full publish_json_excl staging discipline, not just the
            # unique tmp name: a FIXED meta_path+'.tmp' would let two
            # concurrent merges truncate each other's staged file, and
            # replacing WITHOUT fsync can commit the rename metadata
            # before the data blocks — power loss then leaves an empty
            # meta.json that wedges every subsequent read/merge/vacuum
            tmp = f"{meta_path}.{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as f:
                json.dump({**meta, "created_from": version}, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.replace(tmp, meta_path)
            except FileNotFoundError:
                # an aged-sidecar vacuum sweep beat us (≥15-min stall):
                # the head is already the merged map with base stale —
                # consistent (next merge sees t == o on every landed
                # key), just not fast-forwarded; don't crash a merge
                # that already published
                pass
        return version
    raise RuntimeError("merge lost every trunk version race")


def delete_branch(table_dir: str, name: str) -> None:
    """Drop the ref and its manifest chain (data files stay — they may
    be shared; vacuum reclaims unreferenced ones once the ref is gone)."""
    import shutil

    shutil.rmtree(_branch_dir(table_dir, name))


def q_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered demonstration of the full branch lifecycle, VALUE-
    checked: trunk v1 holds the two busiest order days; a branch rewrites
    day 2 down to its min-orderkey row while trunk independently adds
    day 3; the three-way merge must land ALL THREE changes — day 1
    carried forward, the branch's day-2 rewrite, trunk's day 3 — with no
    conflict (disjoint partitions). Output: per-day order counts at each
    stage (trunk_v1 / branch / merged). The oracle recomputes every
    stage's expected counts straight from orders, so the driver checks
    the merge SEMANTICS, not just that files moved."""
    import tempfile

    from pyspark.sql import functions as F

    from breweries_case_spark.io.reader import load_table
    from breweries_case_spark.io.snapshots import commit_overwrite_partitions

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
    tdir = tempfile.mkdtemp(prefix="branch_")
    commit_overwrite_partitions(
        orders.filter(F.col("day").isin([d1, d2])), tdir, "day"
    )
    create_branch(tdir, "exp")
    keep_min = orders.filter(F.col("day") == d2).join(
        orders.filter(F.col("day") == d2)
        .groupBy("day")
        .agg(F.min("o_orderkey").alias("o_orderkey")),
        ["day", "o_orderkey"],
        "left_semi",
    )
    commit_to_branch(keep_min, tdir, "exp", "day")
    commit_overwrite_partitions(orders.filter(F.col("day") == d3), tdir, "day")
    branch_state = (
        read_branch(spark, tdir, "exp")
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .withColumn("stage", F.lit("branch"))
    )
    trunk_v1 = (
        read_snapshot(spark, tdir, version=1)
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .withColumn("stage", F.lit("trunk_v1"))
    )
    merge_branch(tdir, "exp")
    merged = (
        read_snapshot(spark, tdir)
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .withColumn("stage", F.lit("merged"))
    )
    out = trunk_v1.unionByName(branch_state).unionByName(merged).select(
        "stage", "day", "n"
    )
    # materialize (tiny: stages × days rows) so the scratch table can be
    # removed before the driver collects — q_write_dynamic_overwrite's
    # cleanup discipline; without this every bench/driver run leaks a
    # multi-partition parquet copy under /tmp
    rows = out.collect()
    import shutil

    shutil.rmtree(tdir, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


QUERIES = {
    "q_branch_merge": q_branch_merge,
}


ORACLES = {
    "q_branch_merge": """
        WITH d AS (
            SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
                   COUNT(*) AS n
            FROM orders GROUP BY 1),
        top3 AS (SELECT day, n FROM d ORDER BY n DESC, day LIMIT 3),
        s AS (SELECT day, n, ROW_NUMBER() OVER (ORDER BY day) AS rk
              FROM top3)
        SELECT 'trunk_v1' AS stage, day, n FROM s WHERE rk <= 2
        UNION ALL
        SELECT 'branch' AS stage, day,
               CASE WHEN rk = 1 THEN n ELSE 1 END AS n
        FROM s WHERE rk <= 2
        UNION ALL
        SELECT 'merged' AS stage, day,
               CASE WHEN rk = 1 THEN n WHEN rk = 2 THEN 1 ELSE n END AS n
        FROM s
    """,
}
