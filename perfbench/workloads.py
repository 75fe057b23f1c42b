"""Seeded op lists for each workload.

Every workload times a fixed list of ``n`` ops derived from the seed
alone. The template (or op kind) mix is identical for every seed; the
seed picks literals, keys and the order. A time-boxed loop would let
host speed change the op mix, and so the result; a fixed list does not.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

# ---------------------------------------------------------------- adhoc_sql
#
# TPC-H/SSB-shaped templates in the StarRocks dialect (INTERVAL call
# forms, MySQL date_format tokens, if()/ifnull()), each with a DuckDB
# twin that must return the same rows. Money is summed as integer cents
# (FLOOR(x*100+0.5)), the engine's fixed-point policy, so both engines
# agree exactly. Every ORDER BY ... LIMIT has a unique tiebreaker.

_CENTS = "CAST(FLOOR({x} * 100 + 0.5) AS BIGINT)"
_REV = _CENTS.format(x="l_extendedprice * (1 - l_discount)")


@dataclass(frozen=True)
class Template:
    name: str
    sr: str
    duck: str


TEMPLATES = [
    Template(
        "pricing_summary",
        f"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
       SUM({_REV}) AS rev_cents, COUNT(*) AS n
FROM lineitem
WHERE l_shipdate <= date_sub('{{day}}', INTERVAL {{delta}} DAY)
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
        f"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
       SUM({_REV}) AS rev_cents, COUNT(*) AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{{day}}' - INTERVAL {{delta}} DAY
GROUP BY l_returnflag, l_linestatus""",
    ),
    Template(
        "shipping_priority",
        f"""SELECT l_orderkey, date_format(o_orderdate, '%Y-%m-%d') AS odate,
       SUM({_REV}) AS rev_cents
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{{segment}}' AND o_orderdate < '{{day}}'
  AND l_shipdate > '{{day}}'
GROUP BY l_orderkey, date_format(o_orderdate, '%Y-%m-%d')
ORDER BY rev_cents DESC, l_orderkey
LIMIT 10""",
        f"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
       SUM({_REV}) AS rev_cents
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{{segment}}' AND o_orderdate < TIMESTAMP '{{day}}'
  AND l_shipdate > TIMESTAMP '{{day}}'
GROUP BY ALL
ORDER BY rev_cents DESC, l_orderkey
LIMIT 10""",
    ),
    Template(
        "local_supplier_volume",
        f"""SELECT n_name, SUM({_REV}) AS rev_cents, COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{{region}}' AND o_orderdate >= '{{year}}-01-01'
  AND o_orderdate < date_add('{{year}}-01-01', INTERVAL 1 YEAR)
GROUP BY n_name
ORDER BY rev_cents DESC, n_name""",
        f"""SELECT n_name, SUM({_REV}) AS rev_cents, COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{{region}}' AND o_orderdate >= TIMESTAMP '{{year}}-01-01'
  AND o_orderdate < TIMESTAMP '{{year}}-01-01' + INTERVAL 1 YEAR
GROUP BY n_name""",
    ),
    Template(
        "forecast_revenue",
        f"""SELECT SUM({_CENTS.format(x="l_extendedprice * l_discount")}) AS rev_cents,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= '{{year}}-01-01'
  AND l_shipdate < date_add('{{year}}-01-01', INTERVAL 1 YEAR)
  AND l_discount BETWEEN {{disc_lo}} AND {{disc_hi}} AND l_quantity < {{qty}}""",
        f"""SELECT SUM({_CENTS.format(x="l_extendedprice * l_discount")}) AS rev_cents,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{{year}}-01-01'
  AND l_shipdate < TIMESTAMP '{{year}}-01-01' + INTERVAL 1 YEAR
  AND l_discount BETWEEN {{disc_lo}} AND {{disc_hi}} AND l_quantity < {{qty}}""",
    ),
    Template(
        "order_priority",
        """SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= '{year}-{month:02d}-01'
  AND o_orderdate < date_add('{year}-{month:02d}-01', INTERVAL 3 MONTH)
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              AND l_shipdate > days_add(o_orderdate, {lag}))
GROUP BY o_orderpriority
ORDER BY o_orderpriority""",
        """SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{year}-{month:02d}-01'
  AND o_orderdate < TIMESTAMP '{year}-{month:02d}-01' + INTERVAL 3 MONTH
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL {lag} DAY)
GROUP BY o_orderpriority""",
    ),
    Template(
        "brand_month",
        f"""SELECT date_format(l_shipdate, '%Y-%m') AS ym, p_brand,
       SUM({_REV}) AS rev_cents
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type = '{{ptype}}' AND p_size <= {{size}}
  AND l_shipdate >= '{{year}}-01-01'
  AND l_shipdate < date_add('{{year}}-01-01', INTERVAL 6 MONTH)
GROUP BY date_format(l_shipdate, '%Y-%m'), p_brand
ORDER BY ym, p_brand""",
        f"""SELECT strftime(l_shipdate, '%Y-%m') AS ym, p_brand,
       SUM({_REV}) AS rev_cents
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type = '{{ptype}}' AND p_size <= {{size}}
  AND l_shipdate >= TIMESTAMP '{{year}}-01-01'
  AND l_shipdate < TIMESTAMP '{{year}}-01-01' + INTERVAL 6 MONTH
GROUP BY ALL""",
    ),
    Template(
        "returned_items",
        f"""SELECT c_custkey, c_name, n_name, SUM({_REV}) AS rev_cents,
       SUM(if(o_orderpriority = '1-URGENT', 1, 0)) AS urgent
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= '{{year}}-{{month:02d}}-01'
  AND o_orderdate < date_add('{{year}}-{{month:02d}}-01', INTERVAL 3 MONTH)
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY rev_cents DESC, c_custkey
LIMIT 20""",
        f"""SELECT c_custkey, c_name, n_name, SUM({_REV}) AS rev_cents,
       SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS urgent
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '{{year}}-{{month:02d}}-01'
  AND o_orderdate < TIMESTAMP '{{year}}-{{month:02d}}-01' + INTERVAL 3 MONTH
  AND l_returnflag = 'R'
GROUP BY ALL
ORDER BY rev_cents DESC, c_custkey
LIMIT 20""",
    ),
    Template(
        "supplier_region_share",
        f"""SELECT r_name, COUNT(DISTINCT s_suppkey) AS suppliers,
       SUM({_REV}) AS rev_cents,
       SUM(CAST(FLOOR(ifnull(l_tax, 0) * 100 + 0.5) AS BIGINT)) AS tax_pct_sum
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE l_discount BETWEEN {{disc_lo}} AND {{disc_hi}}
  AND l_shipdate >= '{{year}}-01-01'
  AND l_shipdate < date_add('{{year}}-01-01', INTERVAL 2 YEAR)
GROUP BY r_name
ORDER BY r_name""",
        f"""SELECT r_name, COUNT(DISTINCT s_suppkey) AS suppliers,
       SUM({_REV}) AS rev_cents,
       SUM(CAST(FLOOR(coalesce(l_tax, 0) * 100 + 0.5) AS BIGINT)) AS tax_pct_sum
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE l_discount BETWEEN {{disc_lo}} AND {{disc_hi}}
  AND l_shipdate >= TIMESTAMP '{{year}}-01-01'
  AND l_shipdate < TIMESTAMP '{{year}}-01-01' + INTERVAL 2 YEAR
GROUP BY r_name""",
    ),
]


def _adhoc_params(name: str, rng: random.Random) -> dict:
    year = rng.randint(1995, 2000)
    disc = rng.randint(1, 8)
    day = dt.date(1995, 3, 1) + dt.timedelta(days=rng.randint(0, 2000))
    return {
        "pricing_summary": lambda: {"day": "2001-12-01",
                                    "delta": rng.randint(60, 700)},
        "shipping_priority": lambda: {"segment": rng.choice(datagen.SEGMENTS),
                                      "day": day.isoformat()},
        "local_supplier_volume": lambda: {"region": rng.choice(datagen.REGIONS),
                                          "year": year},
        "forecast_revenue": lambda: {"year": year,
                                     "disc_lo": f"{(disc - 1) / 100:.2f}",
                                     "disc_hi": f"{(disc + 1) / 100:.2f}",
                                     "qty": rng.randint(20, 30)},
        "order_priority": lambda: {"year": year, "month": rng.randint(1, 10),
                                   "lag": rng.randint(30, 90)},
        "brand_month": lambda: {"ptype": rng.choice(datagen.PART_TYPES),
                                "size": rng.randint(10, 50), "year": year},
        "returned_items": lambda: {"year": year, "month": rng.randint(1, 10)},
        "supplier_region_share": lambda: {"disc_lo": f"{(disc - 1) / 100:.2f}",
                                          "disc_hi": f"{(disc + 1) / 100:.2f}",
                                          "year": year},
    }[name]()


# ------------------------------------------------------------- ingest_curate

# Registered curation operators timed by ``ingest_curate``: a subset of
# the engine's LLM-pipeline family that fits the run budget.
# multimodal_wav_decode is the one that crosses the Python-worker/Arrow
# boundary. dedup_minhash_lsh was left out: 8 s cold and up to 3 s warm,
# it was the largest single source of run-to-run spread.
CURATION_OPS = [
    "multimodal_wav_decode",
    "pack_token_shards",
    "pii_redaction_stats",
    "text_quality_stats",
]
UPSERT_ROWS = 2000
RECENT_FRAC = 0.1  # upsert keys skew to the newest tenth of the key space


@dataclass
class Op:
    """One timed operation. ``kind`` selects the code path; ``arg`` is
    the SQL text, the registered query name, the batch index or the
    read's key range; ``check`` is the DuckDB twin SQL for adhoc ops."""

    kind: str
    label: str
    arg: object
    params: dict = field(default_factory=dict)
    check: str | None = None


def adhoc_ops(seed: int, n: int) -> list[Op]:
    rng = random.Random(f"adhoc-{seed}")
    per, extra = divmod(n, len(TEMPLATES))
    names = [t.name for t in TEMPLATES] * per + [t.name for t in TEMPLATES[:extra]]
    rng.shuffle(names)
    by_name = {t.name: t for t in TEMPLATES}
    ops = []
    for name in names:
        p = _adhoc_params(name, rng)
        t = by_name[name]
        ops.append(Op("sql", name, t.sr.format(**p), p, t.duck.format(**p)))
    return ops


def warmup_adhoc_ops(seed: int, pass_no: int = 0) -> list[Op]:
    """One op per template, with literals from a stream the timed ops
    (and the other warm-up passes) never draw from."""
    return adhoc_ops(seed + 1_000_003 * (pass_no + 1), len(TEMPLATES))


@dataclass
class IngestPlan:
    """The ``ingest_curate`` op list plus the generator-side model of
    the table, which yields the expected result of every read."""

    ops: list[Op]
    batch_paths: list[str]
    batch_bytes: list[int]
    final_count: int
    final_cents: int


def _mix(n: int) -> list[str]:
    """Op-kind counts for ``n`` ops: 40% upserts, 40% reads (alternating
    range and point) and 20% curation operators. Reads are the fastest
    kind; keeping them under half of the list keeps the median inside
    one latency cluster instead of on the edge between two."""
    n_cur = max(len(CURATION_OPS), round(n * 0.2))
    n_up = round(n * 0.4)
    n_read = n - n_cur - n_up
    reads = ["range" if i % 2 == 0 else "point" for i in range(n_read)]
    return ["upsert"] * n_up + reads + ["curate"] * n_cur


def ingest_ops(seed: int, n: int, orders: pa.Table, batch_dir: str) -> IngestPlan:
    """Upsert batches (written as parquet under ``batch_dir``), reads
    whose expected values come from replaying the upserts on a numpy
    model of ``orders``, and curation operators, in a seeded order.
    An upsert is never the last op, so every batch is read back."""
    rng = random.Random(f"ingest-{seed}")
    nrng = np.random.default_rng(rng.getrandbits(64))
    kinds = _mix(n)
    while True:
        rng.shuffle(kinds)
        if kinds[-1] != "upsert":
            break
    base_n = orders.num_rows
    new_cap = kinds.count("upsert") * UPSERT_ROWS
    present = np.zeros(base_n + new_cap, dtype=bool)
    cents = np.zeros(base_n + new_cap, dtype=np.int64)
    keys0 = orders.column("o_orderkey").to_numpy()
    present[keys0] = True
    cents[keys0] = np.floor(orders.column("o_totalprice").to_numpy() * 100 + 0.5)
    next_key = base_n
    os.makedirs(batch_dir, exist_ok=True)

    ops: list[Op] = []
    paths: list[str] = []
    sizes: list[int] = []
    recent: list[int] = []  # keys touched by the latest upsert
    cur = list(CURATION_OPS) * (kinds.count("curate") // len(CURATION_OPS) + 1)
    cur = cur[: kinds.count("curate")]
    rng.shuffle(cur)
    for kind in kinds:
        if kind == "upsert":
            n_new = UPSERT_ROWS // 10
            hot = int(next_key * (1 - RECENT_FRAC))
            n_hot = int((UPSERT_ROWS - n_new) * 0.7)
            old = np.concatenate([
                nrng.choice(np.arange(hot, next_key), n_hot, replace=False),
                nrng.choice(np.arange(0, hot), UPSERT_ROWS - n_new - n_hot,
                            replace=False),
            ])
            keys = np.concatenate([old, np.arange(next_key, next_key + n_new)])
            next_key += n_new
            batch = pa.table(datagen.order_rows(nrng, keys))
            path = os.path.join(batch_dir, f"batch_{len(paths):03d}.parquet")
            pq.write_table(batch, path)
            present[keys] = True
            cents[keys] = np.floor(batch.column("o_totalprice").to_numpy() * 100 + 0.5)
            recent = keys.tolist()
            ops.append(Op("upsert", "upsert", len(paths),
                          {"rows": UPSERT_ROWS, "new": n_new}))
            paths.append(path)
            sizes.append(os.path.getsize(path))
        elif kind in ("range", "point"):
            pool = recent or keys0.tolist()
            k = int(pool[rng.randrange(len(pool))])
            lo, hi = (k, k) if kind == "point" else (max(0, k - 500), k + 500)
            sel = slice(lo, min(hi, len(present) - 1) + 1)
            expect = {"n": int(present[sel].sum()),
                      "cents": int(cents[sel][present[sel]].sum())}
            ops.append(Op("read", kind, [lo, hi], expect))
        else:
            ops.append(Op("curate", cur.pop(), None))
    return IngestPlan(ops, paths, sizes, int(present.sum()),
                      int(cents[present].sum()))


def ops_digest(ops: list[Op]) -> str:
    body = json.dumps([asdict(o) for o in ops], sort_keys=True, default=str)
    return hashlib.sha256(body.encode()).hexdigest()[:16]
