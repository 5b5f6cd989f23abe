"""Deterministic synthetic tables with the engine's ten-table schema.

The benchmark cannot read data from outside its checkout, so it builds
its own copy of the TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``: the same column names, types and value
domains as the tables the engine's oracle tests use, with independent
uniform columns at the usual per-SF row counts. Every value comes from
NumPy's PCG64 generator seeded with ``DATA_SEED`` and the table name,
so one (sf, DATA_SEED) pair always yields the same rows on any machine.

The data seed is fixed on purpose: the run seed (``--seed``) drives the
op sequences, never the tables, so results can be checked against
digests recorded once per SF.
"""

from __future__ import annotations

import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: bump when the generator's output changes, so cached copies rebuild
VERSION = 1

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.44, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _rng(table: str) -> np.random.Generator:
    return np.random.default_rng([DATA_SEED, zlib.crc32(table.encode())])


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + (rng.integers(first_day, first_day + n_days, n) * _US_PER_DAY)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return list(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(1, int(round(150_000 * sf))),
        "supplier": max(1, int(round(10_000 * sf))),
        "part": max(1, int(round(200_000 * sf))),
        "orders": max(1, int(round(1_500_000 * sf))),
        "lineitem": max(1, int(round(6_000_000 * sf))),
        "events": max(1, int(round(1_000_000 * sf))),
        "documents": max(500, int(round(50_000 * sf))),
        "embeddings": max(500, int(round(20_000 * sf))),
    }


def build_tables(sf: float) -> dict[str, pa.Table]:
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng("customer")
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": _cents(r, -999.99, 9999.99, c),
        "c_mktsegment": _pick(r, SEGMENTS, c),
    })

    r = _rng("supplier")
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": _cents(r, -999.99, 9999.99, s),
    })

    r = _rng("part")
    p = n["part"]
    keys = np.arange(p)
    retail = np.round(900.0 + (keys % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in zip(r.integers(0, 8, p), r.integers(0, 8, p))
        ],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, p)],
        "p_type": _pick(r, PART_TYPES, p),
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": retail,
    })

    r = _rng("orders")
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], o),
        "o_totalprice": _cents(r, 1000.0, 500_000.0, o),
        "o_orderdate": pa.array(_days(r, 0, 2404, o), pa.timestamp("us")),
        "o_orderpriority": _pick(r, PRIORITIES, o),
    })

    r = _rng("lineitem")
    li = n["lineitem"]
    partkey = r.integers(0, p, li)
    qty = r.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": np.round(r.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], li),
        "l_linestatus": _pick(r, ["F", "O"], li),
        "l_shipdate": pa.array(_days(r, 1, 2499, li), pa.timestamp("us")),
    })

    r = _rng("events")
    e = n["events"]
    ts = np.sort(r.integers(0, 30 * _US_PER_DAY, e))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(1, c // 10), e), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, e),
        "value": _cents(r, 0.01, 499.99, e),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)],
    })

    r = _rng("documents")
    d = n["documents"]
    texts = [
        " ".join(_pick(r, WORDS, int(k))) for k in r.integers(10, 100, d)
    ]
    # a few exact and one-word-edited copies, so the dedup paths find work
    for i in r.choice(d, d // 100, replace=False):
        texts[i] = texts[int(r.integers(0, d))]
    for i in r.choice(d, d // 50, replace=False):
        words = texts[int(r.integers(0, d))].split()
        words[int(r.integers(0, len(words)))] = WORDS[int(r.integers(0, len(WORDS)))]
        texts[i] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": _pick(r, LANGS, d, p=LANG_WEIGHTS),
        "source": [f"src{i}" for i in r.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = _rng("embeddings")
    m = n["embeddings"]
    labels = r.integers(0, 10, m)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 1.0, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def ensure_dataset(root: str, sf: float) -> str:
    """Return the directory holding the tables for ``sf``, writing them
    first if absent. The write goes to a temporary sibling that is
    renamed into place, so a killed run never leaves a partial copy."""
    final = os.path.join(root, f"sf{sf:g}-v{VERSION}")
    if os.path.isdir(final):
        return final
    os.makedirs(root, exist_ok=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, final)
    except OSError:  # another run finished first; its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return final
