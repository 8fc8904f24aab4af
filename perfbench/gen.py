"""Deterministic benchmark inputs.

The base tables mimic the engine's TPC-H-ish test catalog (same ten
tables, same schemas, same value domains) at scale factor 0.1, drawn from
a fixed generator seed so every run and every commit measures the same
bytes.

Per-run inputs -- query order, Derby rows, IN-list key sample, upsert
batch -- come from the run's ``--seed`` through :func:`run_rng` and are
built by the workloads themselves.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
WORDS = (
    "a the data spark table row column key value hash join sort merge scan "
    "filter group agg window stream batch query order part line customer "
    "vector big small fast slow"
).split()


def run_rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (run seed, purpose)."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(dst: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"))


def _ts(days: np.ndarray, start: dt.date) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.06:
            # near duplicate of an earlier document: a few words edited
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "zh", "de", "fr", "es"])[rng.integers(0, 5, n)],
        "source": np.array([f"src{j}" for j in range(20)])[rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def make_base(dst: str, sf: float = 0.1) -> None:
    """Write the ten base tables at scale factor ``sf`` into ``dst``."""
    rng = np.random.default_rng(BASE_SEED)
    os.makedirs(dst, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    _write(dst, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(dst, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(dst, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)],
    })
    _write(dst, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
    noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]
    _write(dst, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    _write(dst, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), dt.date(1995, 1, 1)),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    okey = rng.integers(0, n_ord, n_li)
    _write(dst, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(1, 2500, n_li), dt.date(1995, 1, 1)),
    })
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    base = np.datetime64("2024-01-01T00:00:00", "us")
    _write(dst, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(base + (secs * 1e6).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(
            ["click", "error", "purchase", "signup", "view"]
        )[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.gamma(2.0, 40.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(dst, "documents", _documents(rng, 5000))
    emb = (rng.standard_normal((2000, 64)) * 0.12).astype(np.float32)
    _write(dst, "embeddings", {
        "vec_id": np.arange(2000, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, 2000), pa.int32()),
    })


def dir_digest(path: str) -> str:
    """Content hash of every parquet file under ``path`` (sorted walk)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".parquet"):
                h.update(os.path.relpath(os.path.join(root, f), path).encode())
                with open(os.path.join(root, f), "rb") as fh:
                    for block in iter(lambda: fh.read(1 << 20), b""):
                        h.update(block)
    return h.hexdigest()[:16]


def ensure_inputs(dst: str) -> str:
    """Build the sf0.1 tables into ``dst`` once per checkout and return it.

    The directory is complete once its ``.done`` marker exists, so an
    interrupted build is redone rather than half-read."""
    if not os.path.exists(os.path.join(dst, ".done")):
        make_base(dst)
        open(os.path.join(dst, ".done"), "w").close()
    return dst
