"""Deterministic fixture tables for the benchmark.

Writes the ten tables the workloads read (the TPC-H-like star schema,
``events``, ``documents`` and ``embeddings``) as one parquet file per
table, with the column names, types and value distributions that
``FIXTURES.md`` documents. The benchmark generates its own copy so that it
reads nothing outside its checkout. The data depends only on the scale
factor and a fixed generator seed, never on the benchmark's ``--seed``:
every run of a workload sees the same tables.

Usage: python3 perfbench/datagen.py OUT_DIR [SF ...]
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# rows per table at each supported scale factor
SIZES = {
    "0.001": dict(customer=150, supplier=10, part=200, orders=1_500,
                  lineitem=6_000, events=1_000, documents=500, embeddings=500),
    "0.01": dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
                 lineitem=60_000, events=10_000, documents=500, embeddings=500),
    "0.1": dict(customer=15_000, supplier=1_000, part=20_000, orders=150_000,
                lineitem=600_000, events=100_000, documents=5_000,
                embeddings=2_000),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64

US_PER_DAY = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts; about 5% are an earlier text plus `` dup``
    (near-duplicates) and 0.3% exact copies, so dedup finds pairs."""
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and kind[i] < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_pick(rng, WORDS, k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(sf: str) -> dict[str, pa.Table]:
    """Every fixture table at scale factor *sf* (a key of ``SIZES``)."""
    size = SIZES[sf]
    rng = np.random.default_rng([DATA_SEED, len(sf), int(float(sf) * 1000)])
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = size["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10000, n),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n), pa.string()),
    })
    n = size["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10000, n),
    })
    n = size["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": pa.array(_pick(rng, names, n), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
        "p_type": pa.array(_pick(rng, PART_TYPES, n), pa.string()),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 1),
    })
    n = size["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, size["customer"], n).astype(np.int64),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n), pa.string()),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n) * US_PER_DAY),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n), pa.string()),
    })
    n = size["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, size["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, size["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, size["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n), pa.string()),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n)) * US_PER_DAY),
    })
    n = size["events"]
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n))),
        "user_id": rng.integers(0, max(1, n * 3 // 200), n).astype(np.int64),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n), pa.string()),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })
    out["documents"] = _documents(rng, size["documents"])
    n = size["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })
    return out


def ensure(root: str, sf: str) -> str:
    """Directory ``<root>/sf<sf>`` holding every table; generated once,
    then reused (written to a temporary name and renamed into place)."""
    final = os.path.join(root, f"sf{sf}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, final)
    return final


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for sf_arg in sys.argv[2:] or list(SIZES):
        print(ensure(sys.argv[1], sf_arg))
