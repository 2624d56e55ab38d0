"""Seeded input generators for the benchmark workloads.

Everything the program reads is made here from an integer seed: the
TPC-H-shaped star schema, document tables for the corpus and the
cluster maintainers, and the daily brewery payloads served to the REST
source. The same seed gives byte-identical inputs; nothing is read from
outside the run directory.

The star schema mirrors the repository's reference test data: the same
tables, columns, types and value domains (region/nation names, market
segments, brands, part types, order priorities, 1995-2001 dates), at
its sf0.01 row counts.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.01 row counts of the reference test data
TPCH_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
}
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

BREWERY_TYPES = ["micro", "nano", "regional", "brewpub", "large", "planning"]
COUNTRIES = ["United States", "Ireland", "England", "Scotland", "Austria"]


def write_parquet(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def write_tpch(seed: int, out_dir: str) -> int:
    """Write the seven star-schema tables as ``<out_dir>/<name>.parquet``;
    returns the bytes written."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = TPCH_ROWS
    i32 = pa.int32()
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n["customer"], dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n["part"], dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n["part"], 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                "p_type": rng.choice(PART_TYPES, n["part"]),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
                "p_retailprice": 900.0 + (np.arange(n["part"]) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n["orders"], dtype=np.int64),
                "o_custkey": rng.integers(0, n["customer"], n["orders"]),
                "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
                "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
                "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
                "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), i32),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
                "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n["lineitem"]),
            }
        ),
    }
    return sum(
        write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
        for name, t in tables.items()
    )


def make_documents(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """Documents shaped like the reference ``documents`` table: 8-108
    words over a 30-word vocabulary, 5% near-duplicates (an earlier
    document plus a trailing ``dup`` token), source = src<doc_id % 20>."""
    vocab = np.array(DOC_VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 109))]))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(DOC_LANGS, n, p=DOC_LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_documents(seed: int, n: int, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return write_parquet(make_documents(np.random.default_rng([seed, 2]), n), path)


def brewery_day(seed: int, day: int, n: int, variant: int = 0) -> list[dict]:
    """The brewery API records delivered for day ``day`` (0-based).

    About 1% of ids are null, empty or blank; 5% of records carry
    whitespace or case noise on their text fields; on later days 30% of
    ids carry over from earlier days. Grouping fields are never null, so
    the expected gold groups follow from the records alone. ``variant``
    makes a different extract of the same day (a re-delivery)."""
    rng = np.random.default_rng([seed, 3, day, variant])
    n_old = int(n * 0.3) if day else 0
    old_days = rng.integers(0, max(day, 1), n_old)
    old_rows = rng.integers(0, int(n * 0.7), n_old)
    ids = [f"b-{d:04d}-{j:05d}" for d, j in zip(old_days, old_rows)]
    ids += [f"b-{day:04d}-{j:05d}" for j in range(n - n_old)]
    bad = rng.random(n)
    noisy = rng.random(n) < 0.05
    types = rng.integers(0, len(BREWERY_TYPES), n)
    countries = rng.integers(0, len(COUNTRIES), n)
    states = rng.integers(0, 40, n)
    cities = rng.integers(0, 150, n)
    records = []
    for k in range(n):
        rid: str | None = ids[k]
        if bad[k] < 0.005:
            rid = None
        elif bad[k] < 0.0075:
            rid = ""
        elif bad[k] < 0.01:
            rid = "   "
        btype = BREWERY_TYPES[types[k]]
        country = COUNTRIES[countries[k]]
        state = f"State{states[k]:02d}"
        city = f"City{cities[k]:03d}"
        if noisy[k]:
            rid = f"  {rid} " if rid else rid
            btype = f" {btype.upper()}"
            country = f"{country.lower()}  "
            state = state.lower()
        records.append(
            {
                "id": rid,
                "name": f"Brewery {k}",
                "brewery_type": btype,
                "city": city,
                "state_province": state,
                "postal_code": f"{10000 + k}",
                "country": country,
                "longitude": None if k % 17 == 0 else f"{-120 + (k % 600) / 10:.4f}",
                "latitude": None if k % 17 == 0 else f"{30 + (k % 200) / 10:.4f}",
                "phone": f"({k % 1000:03d}) 555-{k % 10000:04d}",
                "website_url": None,
                "state": state,
                "street": None,
            }
        )
    return records


def expected_medallion_counts(records: list[dict]) -> dict[str, int]:
    """Audit counts ``run_medallion_snapshotted`` must return for one
    delivery: bronze = records, silver = records whose trimmed id is
    non-empty, gold = distinct cleaned (type, country, state, city)."""
    valid = [r for r in records if r["id"] is not None and r["id"].strip(" ") != ""]
    groups = {
        (
            r["brewery_type"].strip(" ").lower(),
            r["country"].strip(" ").upper(),
            r["state_province"].strip(" ").upper(),
            r["city"].strip(" "),
        )
        for r in valid
    }
    return {"bronze": len(records), "silver": len(valid), "gold": len(groups)}


def table_digest(path: str) -> str:
    """Content hash of a parquet table, independent of file metadata."""
    table = pq.read_table(path)
    h = hashlib.sha256(repr(table.schema.names).encode())
    for name in table.schema.names:
        h.update(repr(table.column(name).to_pylist()).encode())
    return h.hexdigest()
