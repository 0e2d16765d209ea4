"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``catalog.TABLES``) as one parquet
file each, with the same schemas and value vocabularies as the engine's
star-schema test data: a TPC-H-like retail star, an ``events`` click
stream, and a ``documents``/``embeddings`` corpus. The same seed gives
byte-identical tables.

The values are drawn once, from ``BASE_SEED`` (the test data's own seed),
and stand in for a fixed source dataset; the workload seed then derives
its inputs from that base, as ``tools/make_sf1.py`` derives replicas:
  * retail keys are relabeled by a seed-chosen replica offset
    (``tools/make_sf1._offset``), so join and shuffle hashing differ;
  * document text goes through a seed-chosen vocabulary permutation
    (``tools/make_sf1._permuter``);
  * document ids >= 10 are permuted, which moves which documents share
    partitions and IVF cells. Ids 0..9 keep their role: they are the
    held-out eval set of the curation plan and the IVF seed centroids.

Sizes are fixed (``SIZES``) and small: at this scale every pipeline is
bound by its per-job floor, not by data volume.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_TOOLS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools")

SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 2000,
    "embeddings": 2000,
}
# the reference's fact table spans two years of purchases (2014-2015)
FIRST_MONTH = dt.date(2014, 1, 1)
N_MONTHS = 24
N_FIXED_IDS = 10  # doc ids below this keep their role (eval set, IVF seeds)
BASE_SEED = 42
DIM = 64

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def _make_sf1():
    if _TOOLS not in sys.path:
        sys.path.insert(0, _TOOLS)
    import make_sf1

    return make_sf1


def months() -> list[str]:
    """Every 'yyyymm' the fact table covers, oldest first."""
    out = []
    y, m = FIRST_MONTH.year, FIRST_MONTH.month
    for _ in range(N_MONTHS):
        out.append(f"{y:04d}{m:02d}")
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(FIRST_MONTH.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), type=pa.timestamp("us"))


def _relabel(arr: np.ndarray, replica: int) -> pa.Array:
    return _make_sf1()._offset(pa.chunked_array([pa.array(arr)]), replica).combine_chunks()


def _retail(rng: np.random.Generator, replica: int) -> dict[str, pa.Table]:
    n_c, n_s, n_p, n_o = (SIZES[k] for k in ("customer", "supplier", "part", "orders"))
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": _relabel(np.arange(n_c), replica),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c
        ),
    })
    supplier = pa.table({
        "s_suppkey": _relabel(np.arange(n_s), replica),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    })
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "new", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"])
    retail_price = np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2)
    part = pa.table({
        "p_partkey": _relabel(np.arange(n_p), replica),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_p), " "), rng.choice(noun, n_p)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": retail_price,
    })
    span_days = (dt.date(2016, 1, 1) - FIRST_MONTH).days
    o_days = rng.integers(0, span_days - 120, n_o)
    orders = pa.table({
        "o_orderkey": _relabel(np.arange(n_o), replica),
        "o_custkey": _relabel(rng.integers(0, n_c, n_o), replica),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": _ts(o_days),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o
        ),
    })
    lines = rng.integers(1, 8, n_o)
    order_idx = np.repeat(np.arange(n_o), lines)
    n_l = len(order_idx)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    partkey = rng.integers(0, n_p, n_l)
    qty = rng.integers(1, 51, n_l).astype(float)
    lineitem = pa.table({
        "l_orderkey": _relabel(order_idx, replica),
        "l_partkey": _relabel(partkey, replica),
        "l_suppkey": _relabel(rng.integers(0, n_s, n_l), replica),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail_price[partkey] * rng.uniform(0.9, 2.3, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _ts(o_days[order_idx] + rng.integers(1, 121, n_l)),
    })
    n_e = SIZES["events"]
    ev_base = np.datetime64("2024-01-01T00:00:00", "us")
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_e))
    events = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(ev_base + ev_us.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_c, n_e), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_e),
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def _corpus(
    rng: np.random.Generator, seed_rng: np.random.Generator, replica: int
) -> dict[str, pa.Table]:
    n_d = SIZES["documents"]
    texts: list[str] = []
    for i in range(n_d):
        r = rng.random()
        if i >= N_FIXED_IDS and r < 0.05:
            # near duplicate: an earlier doc with a marker token appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= N_FIXED_IDS and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    perm = _make_sf1()._permuter(_make_sf1()._vocab_of([texts]), replica)
    texts = [perm(t) for t in texts]
    ids = np.arange(n_d)
    ids[N_FIXED_IDS:] = N_FIXED_IDS + seed_rng.permutation(n_d - N_FIXED_IDS)
    lang_names = [n for n, _ in LANGS]
    lang_p = np.array([p for _, p in LANGS])
    documents = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": rng.choice(lang_names, n_d, p=lang_p / lang_p.sum()),
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_v = SIZES["embeddings"]
    vecs = rng.standard_normal((n_v, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.sort(ids)[:n_v], pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_v), pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


def generate(seed: int, out_dir: str) -> str:
    """Write the seed's ten tables under ``out_dir``; returns ``out_dir``."""
    base = np.random.default_rng(BASE_SEED)
    # replica 0 is make_sf1's identity permutation; always permute
    replica = 1 + seed % 9
    os.makedirs(out_dir, exist_ok=True)
    tables = {**_retail(base, replica), **_corpus(base, np.random.default_rng(seed), replica)}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
