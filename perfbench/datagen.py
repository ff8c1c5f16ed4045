"""Seeded generator for the benchmark's input tables.

Writes the same table set and schemas the registry queries read
(``region nation customer supplier part orders lineitem events
documents embeddings``), one single-row-group Parquet file per table,
plus the ETL staging batches (several row groups each). The same
``(seed, sf)`` always yields byte-identical inputs.

Sizes follow the TPC-H-ish row ratios of the project's test data:
``sf=0.01`` gives 60,000 lineitem rows and 15,000 orders.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line data table agg value key stream window a spark part group "
    "big sort query fast the"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]

DAY_US = 86_400 * 1_000_000


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(100, int(50_000 * sf)),
        "embeddings": max(100, int(20_000 * sf)),
    }


def _ts(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_from_epoch.astype("int64") * DAY_US, pa.timestamp("us"))


def _days(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype("int64"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str, row_groups: int = 1) -> None:
    rows = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rows)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every input table in memory."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"], dtype="int64")
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(P_ADJ, n["part"]), rng.choice(P_NOUN, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(P_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    lo, hi = _days(1995, 1, 1), _days(2001, 8, 1)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _ts(rng.integers(lo, hi + 1, n["orders"])),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m).astype("int64"),
        "l_partkey": rng.integers(0, n["part"], m).astype("int64"),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype("int64"),
        "l_linenumber": rng.integers(1, 8, m).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, m), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _ts(rng.integers(_days(1995, 1, 2), _days(2001, 11, 4) + 1, m)),
    })
    e = n["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(rng.integers(0, 30 * DAY_US, e)) + ts0
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], e).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.maximum(0.01, np.round(rng.exponential(60.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng, n: int) -> pa.Table:
    """Random-vocabulary docs; about one in ten is a near-duplicate of
    an earlier doc (a few words replaced, a ``dup`` marker appended), so
    the near-dup operators find real clusters."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vec = centers[label] + rng.normal(0.0, 1.5, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vec.astype("float32")), pa.list_(pa.float32())),
        "label": label.astype("int32"),
    })


def merge_batch(seed: int, orders: pa.Table, share: float, tag: int) -> pa.Table:
    """An orders-shaped staging batch of ``share`` × |orders| rows: about
    half updates of existing keys and half new keys, with one in twenty
    keys repeated at a different price so the loader's dedup has work.
    Prices are distinct within a key, so keep-first by price is exact."""
    rng = np.random.default_rng([seed, tag])
    n_orders = orders.num_rows
    k = max(4, int(n_orders * share))
    upd = rng.choice(n_orders, k // 2, replace=False).astype("int64")
    new = np.arange(n_orders + tag * n_orders, n_orders + tag * n_orders + (k - k // 2), dtype="int64")
    keys = np.concatenate([upd, new])
    dups = rng.choice(keys, max(1, k // 20), replace=False)
    keys = np.concatenate([keys, dups])
    m = len(keys)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, 1000, m).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], m),
        "o_totalprice": _money(rng, 1000.0, 500000.0, m),
        "o_orderdate": _ts(rng.integers(_days(1995, 1, 1), _days(2001, 8, 1) + 1, m)),
        "o_orderpriority": rng.choice(PRIORITIES, m),
    })


def generate(out_dir: str, seed: int, sf: float, merge_shares=(0.01, 0.2)) -> dict[str, int]:
    """Write every table (and the MERGE staging batches) under
    ``out_dir``; returns row counts by table name."""
    os.makedirs(out_dir, exist_ok=True)
    tabs = tables(seed, sf)
    for i, share in enumerate(merge_shares, start=1):
        tabs[f"orders_batch{i}"] = merge_batch(seed, tabs["orders"], share, i)
    for name, t in tabs.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"),
               row_groups=4 if name.startswith("orders_batch") else 1)
    return {name: t.num_rows for name, t in tabs.items()}
