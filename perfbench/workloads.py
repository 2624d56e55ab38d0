"""The benchmark workloads: ``lakehouse_nightly`` and ``tpch_sf0.01``.

``lakehouse_nightly`` runs two nightly jobs back to back in one pass: the
medallion ETL (``Medallion``) and the corpus update with a cluster
maintainer (``DedupMaintenance``).

Each workload makes its inputs from the seed (``prepare``), scans every
input table once (``warm``), and hands the runner a fixed pass of ops
(``fixed``) plus steady-state ops (``extra``) for any time left in the
window. Every op stores what the program returned in ``op.record``;
``check`` compares those records with results derived independently from
the inputs and returns the failed op indices with a reason.

Ops call the program through module attributes and registry dicts at call
time, so a traced run goes through the tracer's wrappers.
"""

from __future__ import annotations

import datetime as dt
import importlib
import json
import os

import numpy as np

import inputs
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))

TPCH_IDS = tuple(f"q_tpch_q{i}" for i in range(1, 23))
#: the cluster maintainers in the pass and the modules whose registries
#: hold them (q_dedup_text_cluster_incremental and
#: q_dedup_cluster_chain_persisted are left out: each adds 10-14 s to a
#: run, which the time budget of a benchmark set cannot afford)
MAINTAINERS = (("q_dedup_video_cluster_incremental", "multimodal"),)
#: fixed seed of the maintainers' documents table, whose expected results
#: are committed in expected.json (written by make_expected.py)
MAINT_DOCS_SEED = 20260101
MAINT_DOCS = 500

MEDALLION_PER_DAY = 10_000
MEDALLION_REDELIVERY = 9_700
MEDALLION_START = dt.date(2024, 1, 1)
CORPUS_BACKFILL = 300
CORPUS_SHARD = 150
BENCH_GRAM_DOCS = 2
# operators.training_mix's stage-1 gate, re-derived for the check
GATE_MIN_TOKENS = 10
GATE_MEAN_TOKEN_LEN = (2.0, 12.0)


class Op:
    __slots__ = ("name", "fn", "record")

    def __init__(self, name: str, fn, **record):
        self.name = name
        self.fn = fn
        self.record = record


def _scan(spark, path: str) -> None:
    spark.read.parquet(path).write.format("noop").mode("overwrite").save()


def _operators(module: str):
    return importlib.import_module(f"breweries_case_spark.operators.{module}")


def _registry_op(spark, qid: str, module: str, sf_dir: str) -> Op:
    """Run a registry id and collect its result into a digest."""

    def run(tracer):
        df = _operators(module).QUERIES[qid](spark, sf_dir)
        with tracer.action(df):
            rows = df.collect()
        op.record["digest"] = oracle.digest(df.columns, rows)

    op = Op(qid, run, qid=qid)
    return op


class Medallion:
    """Daily bronze -> silver -> gold on the snapshot log (part of
    lakehouse_nightly).

    Pass: day 1, day 2, a re-delivery of day 2, then one full snapshot
    read of silver and gold. Extra ops: further new days."""

    fixed_days = 2

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.base = os.path.join(run_dir, "lake", "medallion")
        self.table_dirs = [self.base]
        self.input_bytes = 0
        self.first_delivery: dict[dt.date, Op] = {}

    def prepare(self) -> None:
        pass  # each day's records are made just before its op

    def warm(self) -> None:
        # the input is the API payload: parse one page of it into a frame
        records = inputs.brewery_day(self.seed, 0, 200, variant=1)
        self.spark.createDataFrame(
            [(json.dumps(r),) for r in records], "raw_json string"
        ).write.format("noop").mode("overwrite").save()

    def _day_op(self, day: int, redelivery: bool = False) -> Op:
        from breweries_case_spark.io import rest_source, snapshots
        from breweries_case_spark.pipelines import medallion

        date = MEDALLION_START + dt.timedelta(days=day)
        n = MEDALLION_REDELIVERY if redelivery else MEDALLION_PER_DAY
        records = inputs.brewery_day(self.seed, day, n, variant=int(redelivery))
        self.input_bytes += sum(len(json.dumps(r)) for r in records)
        silver = os.path.join(self.base, "silver")

        def run(tracer):
            if redelivery:
                op.record["prior_version"] = snapshots.latest_version(silver)
            got = rest_source.fetch_paginated(
                lambda page, per: records[(page - 1) * per: page * per],
                per_page=200,
                max_pages=50,
            )
            op.record["audit"] = medallion.run_medallion_snapshotted(
                self.spark, got, date, self.base
            )

        op = Op(
            f"day {date}" + (" re-delivered" if redelivery else ""),
            run,
            date=date,
            redelivery=redelivery,
            expected=inputs.expected_medallion_counts(records),
        )
        if not redelivery:
            self.first_delivery[date] = op
        return op

    def _read_op(self) -> Op:
        from pyspark.sql import functions as F

        from breweries_case_spark.io import snapshots

        def run(tracer):
            s = snapshots.read_snapshot(self.spark, os.path.join(self.base, "silver"))
            g = snapshots.read_snapshot(self.spark, os.path.join(self.base, "gold"))
            with tracer.action(s):
                op.record["silver"] = dict(
                    s.groupBy("extraction_date").count().collect()
                )
            with tracer.action(g):
                op.record["gold"] = dict(
                    g.groupBy("extraction_date").agg(F.sum("brewery_count")).collect()
                )

        op = Op("read silver+gold", run, read=True)
        return op

    def fixed(self) -> list[Op]:
        return [
            self._day_op(0),
            self._day_op(1),
            self._day_op(1, redelivery=True),
            self._read_op(),
        ]

    def extra(self, k: int) -> Op:
        return self._day_op(self.fixed_days + k)

    def check(self, ops: list[Op]) -> dict[int, str]:
        from breweries_case_spark.io import snapshots

        failed: dict[int, str] = {}
        iread = next(i for i, op in enumerate(ops) if op.record.get("read"))
        latest: dict[dt.date, Op] = {}
        for i, op in enumerate(ops):
            if i == iread:
                continue
            if op.record.get("audit") != op.record["expected"]:
                failed[i] = f"audit {op.record.get('audit')} != {op.record['expected']}"
            if i < iread:
                latest[op.record["date"]] = op
        # gold sums to silver, and a re-delivered date holds only its new rows
        read = ops[iread].record
        for date, op in latest.items():
            want = op.record["expected"]["silver"]
            got_s = read.get("silver", {}).get(date.isoformat())
            got_g = read.get("gold", {}).get(date.isoformat())
            if got_s != want or got_g != want:
                failed[iread] = f"{date}: silver {got_s}, gold sum {got_g}, want {want}"
        # the version before a re-delivery still reads the first delivery
        for i, op in enumerate(ops):
            if "prior_version" not in op.record:
                continue
            old = snapshots.read_snapshot(
                self.spark,
                os.path.join(self.base, "silver"),
                version=op.record["prior_version"],
                partitions=[op.record["date"].isoformat()],
            ).count()
            want = self.first_delivery[op.record["date"]].record["expected"]["silver"]
            if old != want:
                failed[i] = f"prior snapshot reads {old} rows, want {want}"
        return failed


class Tpch:
    """The 22 TPC-H registry ids in a seed-permuted order, twice, each
    result collected. Extra ops: the same order again."""

    name = "tpch_sf0.01"

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.sf_dir = os.path.join(run_dir, "inputs", "tpch")
        self.table_dirs: list[str] = []
        self.input_bytes = 0

    def prepare(self) -> None:
        self.input_bytes = inputs.write_tpch(self.seed, self.sf_dir)
        perm = np.random.default_rng([self.seed, 4]).permutation(len(TPCH_IDS))
        self.order = [TPCH_IDS[i] for i in perm]

    def warm(self) -> None:
        for t in inputs.TPCH_TABLES:
            _scan(self.spark, os.path.join(self.sf_dir, f"{t}.parquet"))

    def fixed(self) -> list[Op]:
        # two passes: the first meets each plan cold, the second warm
        return [
            _registry_op(self.spark, q, "tpch", self.sf_dir) for q in self.order * 2
        ]

    def extra(self, k: int) -> Op:
        qid = self.order[k % len(self.order)]
        return _registry_op(self.spark, qid, "tpch", self.sf_dir)

    def check(self, ops: list[Op]) -> dict[int, str]:
        oracles = _operators("tpch").ORACLES
        want = oracle.duckdb_digests({q: oracles[q] for q in TPCH_IDS}, self.sf_dir)
        return {
            i: "result differs from the DuckDB oracle"
            for i, op in enumerate(ops)
            if op.record.get("digest") != want[op.record["qid"]]
        }


def _gate_passes(text: str, bench_grams: set[str]) -> bool:
    """The corpus quality gate plus decontamination, re-derived in Python."""
    toks = text.strip(" ").split()
    if len(toks) < GATE_MIN_TOKENS:
        return False
    lo, hi = GATE_MEAN_TOKEN_LEN
    if not lo <= len(text) / len(toks) <= hi:
        return False
    low = text.strip(" ").lower().split()
    return not any(" ".join(low[i:i + 3]) in bench_grams for i in range(len(low) - 2))


class DedupMaintenance:
    """The nightly corpus update, then the cluster maintainers (part of
    lakehouse_nightly).

    Pass: a seed backfill that persists LSH state, a daily shard with
    near-dup probing and decontamination, a re-delivery of that shard,
    then the maintainers. Extra ops: the maintainers again, in turn."""

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.corpus_dir = os.path.join(run_dir, "lake", "corpus")
        self.shard_dir = os.path.join(run_dir, "inputs", "shards")
        self.maint_dir = os.path.join(run_dir, "inputs", "maint")
        self.table_dirs = [self.corpus_dir]
        self.input_bytes = 0

    def prepare(self) -> None:
        rng = np.random.default_rng([self.seed, 5])
        docs = inputs.make_documents(rng, CORPUS_BACKFILL + CORPUS_SHARD)
        backfill, shard = np.split(rng.permutation(docs.num_rows), [CORPUS_BACKFILL])
        os.makedirs(self.shard_dir)
        self.shards = {}
        for name, idx in (("backfill", backfill), ("shard1", shard)):
            path = os.path.join(self.shard_dir, f"{name}.parquet")
            part = docs.take(np.sort(idx)).select(["doc_id", "text", "lang", "source"])
            self.input_bytes += inputs.write_parquet(part, path)
            self.shards[name] = (path, part.column("text").to_pylist())
        # the evaluation set whose 3-grams a shard must not contain
        held_out = inputs.make_documents(rng, BENCH_GRAM_DOCS, first_id=10**9)
        self.bench_grams = sorted(
            {
                " ".join(toks[i:i + 3])
                for text in held_out.column("text").to_pylist()
                for toks in [text.lower().split()]
                for i in range(len(toks) - 2)
            }
        )
        self.input_bytes += inputs.write_documents(
            MAINT_DOCS_SEED, MAINT_DOCS, os.path.join(self.maint_dir, "documents.parquet")
        )

    def warm(self) -> None:
        for path, _texts in self.shards.values():
            _scan(self.spark, path)
        _scan(self.spark, os.path.join(self.maint_dir, "documents.parquet"))

    def _corpus_op(self, shard: str, date: str, redelivery: bool = False) -> Op:
        from breweries_case_spark.pipelines import corpus

        path, texts = self.shards[shard]
        backfill = shard == "backfill"

        def run(tracer):
            bench = None
            if not backfill:
                bench = self.spark.createDataFrame(
                    [(g,) for g in self.bench_grams], "g string"
                )
            op.record["audit"] = corpus.update_corpus(
                self.spark,
                self.spark.read.parquet(path),
                self.corpus_dir,
                date,
                bench_grams=bench,
                near_dedup=not backfill,
                persist_lsh_state=True,
            )

        grams = set() if backfill else set(self.bench_grams)
        op = Op(
            f"corpus {shard} {date}" + (" re-delivered" if redelivery else ""),
            run,
            date=date,
            redelivery=redelivery,
            n_in=len(texts),
            n_after_gate=sum(_gate_passes(t, grams) for t in texts),
        )
        return op

    def fixed(self) -> list[Op]:
        return [
            self._corpus_op("backfill", "2026-01-01"),
            self._corpus_op("shard1", "2026-01-02"),
            self._corpus_op("shard1", "2026-01-02", redelivery=True),
            *(_registry_op(self.spark, q, m, self.maint_dir) for q, m in MAINTAINERS),
        ]

    def extra(self, k: int) -> Op:
        qid, module = MAINTAINERS[k % len(MAINTAINERS)]
        return _registry_op(self.spark, qid, module, self.maint_dir)

    @staticmethod
    def accepted_per_input(ops: list[Op]) -> float:
        audits = [op.record["audit"] for op in ops if "audit" in op.record]
        n_in = sum(a["n_in"] for a in audits)
        return sum(a["n_accepted"] for a in audits) / n_in if n_in else 0.0

    def check(self, ops: list[Op]) -> dict[int, str]:
        from pyspark.sql import functions as F

        from breweries_case_spark.operators.training_mix import content_fingerprint
        from breweries_case_spark.pipelines import corpus

        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
        docs = inputs.table_digest(os.path.join(self.maint_dir, "documents.parquet"))
        failed: dict[int, str] = {}
        first: dict[str, dict] = {}
        latest: dict[str, tuple[int, dict]] = {}
        for i, op in enumerate(ops):
            rec = op.record
            if "qid" in rec:
                if docs != expected["maintainer_documents"]:
                    failed[i] = "maintainer input differs from expected.json's"
                elif rec.get("digest") != expected["digests"][rec["qid"]]:
                    failed[i] = "result differs from the committed oracle digest"
                continue
            audit = rec.get("audit")
            if audit is None:
                failed[i] = "no audit"
                continue
            got = (audit["n_in"], audit["n_after_gate"])
            if got != (rec["n_in"], rec["n_after_gate"]):
                failed[i] = f"in/gated {got}, want {(rec['n_in'], rec['n_after_gate'])}"
            elif not 0 <= audit["n_accepted"] <= audit["n_after_gate"]:
                failed[i] = f"accepted {audit['n_accepted']} of {audit['n_after_gate']}"
            elif rec["redelivery"] and audit["n_accepted"] != first.get(
                rec["date"], {}
            ).get("n_accepted"):
                failed[i] = "re-delivery did not converge to the first delivery's state"
            first.setdefault(rec["date"], audit)
            latest[rec["date"]] = (i, audit)
        # each shard date holds exactly its last accepted set, and the
        # corpus holds no exact duplicates
        stored = corpus.read_corpus(self.spark, self.corpus_dir)
        per_date = dict(stored.groupBy("shard_date").count().collect())
        for date, (i, audit) in latest.items():
            if per_date.get(date, 0) != audit["n_accepted"]:
                failed[i] = f"{date}: stored {per_date.get(date, 0)}, accepted {audit['n_accepted']}"
        n_docs, n_fp = stored.select(
            F.count("*"), F.countDistinct(content_fingerprint())
        ).first()
        if n_docs != n_fp:
            failed[max(i for i, _a in latest.values())] = (
                f"corpus holds {n_docs - n_fp} exact duplicates"
            )
        return failed


class LakehouseNightly:
    """The medallion pass, then the corpus-and-maintainers pass. Extra ops
    alternate between a new medallion day and a maintainer."""

    name = "lakehouse_nightly"

    def __init__(self, spark, run_dir: str, seed: int):
        self.medallion = Medallion(spark, run_dir, seed)
        self.dedup = DedupMaintenance(spark, run_dir, seed)
        self.parts = (self.medallion, self.dedup)
        self.table_dirs = self.medallion.table_dirs + self.dedup.table_dirs
        self.owner: dict[int, object] = {}

    @property
    def input_bytes(self) -> int:
        return sum(p.input_bytes for p in self.parts)

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def warm(self) -> None:
        for p in self.parts:
            p.warm()

    def _own(self, part, ops: list[Op]) -> list[Op]:
        self.owner.update((id(op), part) for op in ops)
        return ops

    def fixed(self) -> list[Op]:
        return [op for p in self.parts for op in self._own(p, p.fixed())]

    def extra(self, k: int) -> Op:
        part = self.parts[k % 2]
        return self._own(part, [part.extra(k // 2)])[0]

    def accepted_per_input(self, ops: list[Op]) -> float:
        return self.dedup.accepted_per_input(
            [op for op in ops if self.owner[id(op)] is self.dedup]
        )

    def check(self, ops: list[Op]) -> dict[int, str]:
        failed = {}
        for p in self.parts:
            index = [i for i, op in enumerate(ops) if self.owner[id(op)] is p]
            for j, reason in p.check([ops[i] for i in index]).items():
                failed[index[j]] = reason
        return failed


WORKLOADS = {w.name: w for w in (LakehouseNightly, Tpch)}
