"""Deterministic warehouse fixture for the benchmark.

Writes the ten tables every plan reads through ``tables.load``
(``region nation customer supplier part orders lineitem events
documents embeddings``), one single-row-group parquet file each, with
the column names, parquet types and value domains of the repository's
sf0.1 star schema: 150k orders, 600k line items, 100k events over
January 2024, 5k documents (5% near-duplicates), 2k unit-norm 64-d
embeddings. The tables depend only on ``FIXTURE_SEED``, never on the
workload seed, so served plans always read the same data and their
results can be checked against stored reference hashes.

    python3 perfbench/fixtures.py <out_dir>    # write the fixture, print its fingerprint
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
SCALE = 0.1
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

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n).astype("datetime64[D]")).astype("datetime64[us]")


def event_props(rng: np.random.Generator, n: int) -> list[str]:
    return [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]


def event_values(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust, n_supp, n_part = int(150_000 * SCALE), int(10_000 * SCALE), int(200_000 * SCALE)
    n_ord, n_line, n_ev = int(1_500_000 * SCALE), int(6_000_000 * SCALE), int(1_000_000 * SCALE)
    n_doc, n_emb = int(50_000 * SCALE), 2000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = rng.choice(_PART_ADJ, n_part)
    noun = rng.choice(_PART_NOUN, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), pa.timestamp("us")),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line), pa.timestamp("us")),
        }
    )
    offsets = np.sort(rng.integers(0, EVENTS_SPAN_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(EVENTS_START + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": event_values(rng, n_ev),
            "props": event_props(rng, n_ev),
        }
    )
    texts = [" ".join(rng.choice(_VOCAB, rng.integers(10, 101))) for _ in range(n_doc)]
    # 5% near-duplicates (an earlier document plus one token) and a few exact copies
    for i in rng.choice(np.arange(n_doc // 2, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, n_doc // 2)] + " dup"
    for i in rng.choice(np.arange(n_doc // 2), 8, replace=False):
        texts[n_doc - 1 - i] = texts[i]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def fingerprint(sf_dir: str) -> str:
    """Content hash of the fixture's parquet files."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as fh:
            h.update(name.encode())
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_fixture(sf_dir: str) -> str:
    """Write the fixture under ``sf_dir`` unless a complete one is there;
    returns its fingerprint. Files are renamed into place, so a killed
    writer leaves no half-written table behind."""
    done = os.path.join(sf_dir, "_COMPLETE")
    if not os.path.exists(done):
        os.makedirs(sf_dir, exist_ok=True)
        for name, table in build_tables().items():
            tmp = os.path.join(sf_dir, f".{name}.parquet.tmp")
            pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
            os.replace(tmp, os.path.join(sf_dir, f"{name}.parquet"))
        with open(done, "w") as fh:
            fh.write(fingerprint(sf_dir) + "\n")
    with open(done) as fh:
        return fh.read().strip()


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/fixtures.py <out_dir>")
    print(ensure_fixture(sys.argv[1]))
