"""Deterministic synthetic tables in the engine's fixture schema.

The benchmark cannot rely on any data outside its checkout, so it
writes its own star-schema corpus (TPC-H-shaped tables plus the
``events``, ``documents`` and ``embeddings`` tables the engine's
catalog registers) with numpy and pyarrow. Column names, types and
value domains follow FIXTURES.md; row counts follow sf0.1.

The corpus depends only on ``DATA_SEED`` and ``GENERATOR_VERSION``, not
on the workload seed: the seed drives each workload's op list (query
literals, upsert batches, operator order), while the tables stay fixed
so they can be generated once per checkout and cached.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
GENERATOR_VERSION = 1

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_STATUS = ["F", "O", "P"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "screw", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
WORDS = (
    "a the data spark query table row column scan filter join agg group "
    "sort hash merge window stream batch key value order customer part "
    "line vector fast slow big small"
).split()

ORDER_DATE_MIN = dt.datetime(1995, 1, 1)
ORDER_DATE_DAYS = 2404  # through 2001-08-01
EVENTS_START = dt.datetime(2024, 1, 1)
EMBED_DIM = 64

_TS = pa.timestamp("us")


def _days_to_ts(base: dt.datetime, days: np.ndarray) -> pa.Array:
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base_us + days.astype(np.int64) * 86_400_000_000, _TS)


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def order_rows(rng: np.random.Generator, keys: np.ndarray) -> dict[str, pa.Array]:
    """Orders columns for ``keys``; shared by the base table and the
    upsert batches so both draw from one value domain."""
    n = len(keys)
    return {
        "o_orderkey": pa.array(keys.astype(np.int64)),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n)),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n),
        "o_totalprice": pa.array(_cents(rng, 1000, 500_000, n)),
        "o_orderdate": _days_to_ts(
            ORDER_DATE_MIN, rng.integers(0, ORDER_DATE_DAYS + 1, n)),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
    })
    n = ROWS["part"]
    adj = rng.integers(0, len(PART_ADJ), n)
    noun = rng.integers(0, len(PART_NOUN), n)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}"
                            for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n) % 1000) / 10.0),
    })
    n = ROWS["orders"]
    orders = order_rows(rng, np.arange(n))
    t["orders"] = pa.table(orders)

    n = ROWS["lineitem"]
    okey = rng.integers(0, ROWS["orders"], n)
    odate_us = orders["o_orderdate"].cast(pa.int64()).to_numpy()[okey]
    ship_us = odate_us + rng.integers(1, 122, n) * 86_400_000_000
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900, 105_000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(ship_us, _TS),
    })

    n = ROWS["events"]
    secs = np.sort(rng.uniform(0, 30 * 86_400, n))
    start_us = int((EVENTS_START - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start_us + (secs * 1_000_000).astype(np.int64), _TS),
        "user_id": pa.array(rng.integers(0, 1500, n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.minimum(
            np.round(rng.exponential(60.0, n), 2), 560.21)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })

    t["documents"] = _documents(rng)

    n, d = ROWS["embeddings"], EMBED_DIM
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, d))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n, d))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })
    return t


def _documents(rng: np.random.Generator) -> pa.Table:
    """Bag-of-words documents with planted near-duplicates (one word
    changed) and a few exact duplicates, so dedup operators find pairs."""
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 50 and r < 0.04:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        elif i > 50 and r < 0.045:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 91))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })


def corpus_key() -> str:
    return hashlib.sha256(
        f"v{GENERATOR_VERSION}-seed{DATA_SEED}-{sorted(ROWS.items())}".encode()
    ).hexdigest()[:12]


def ensure_corpus(cache_root: str) -> str:
    """Return the directory holding ``<table>.parquet`` for every table,
    generating it on first use. Generation writes to a staging
    directory and renames it, so an interrupted run never leaves a
    half-written corpus behind."""
    out = os.path.join(cache_root, f"corpus-{corpus_key()}")
    if os.path.isdir(out):
        return out
    stage = out + ".staging"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    rng = np.random.default_rng(DATA_SEED)
    for name, table in _tables(rng).items():
        pq.write_table(table, os.path.join(stage, f"{name}.parquet"))
    os.rename(stage, out)
    return out
