"""Seeded input generator for the benchmark.

A fixed template (drawn once from ``TEMPLATE_SEED``) holds TPC-H-shaped
tables in the engine's fixture schema, sized like the ``sf0.01`` fixtures.
The run seed only chooses a ~95% key subset of it (customers, parts,
suppliers, orders, documents), cascading the drop through every foreign
key, so the structure that sets iteration counts stays the same from seed
to seed while the inputs still differ. Every table is written as one
parquet file with one row group, the fixtures' layout, so the engine's
scans see the same shape.

The seed also drives the preserve-store input of the ``incremental``
workload: a contribution table (orders replicated ``STORE_REPLICAS`` times)
and a stream of small (+/-) deltas against it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TEMPLATE_SEED = 20_260_101
KEEP = 0.95

N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_DOCUMENTS = 320

STORE_REPLICAS = 10
DELTA_PLUS = 200
DELTA_MINUS = 100

_VOCAB = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
_P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "valve", "spring"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "D").astype(np.int64)
_EPOCH_1995 = np.datetime64("1995-01-02", "D").astype(np.int64)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    # one file, one row group: the fixtures' layout (catalog.spread_scan
    # exists because of it)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _template() -> dict[str, pa.Table]:
    rng = np.random.default_rng(TEMPLATE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
    })
    pk = np.arange(N_PART, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_P_ADJ[a]} {_P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": [_P_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    ok = np.arange(N_ORDERS, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": _ts(_EPOCH_1992 + rng.integers(0, 2557, N_ORDERS)),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    l_order = np.repeat(ok, lines)
    l_num = np.concatenate([np.arange(1, n + 1) for n in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, N_PART, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(0, 2498, n_li)),
    })
    t["documents"] = _documents(rng)
    return t


def _documents(rng: np.random.Generator) -> pa.Table:
    """Random word sequences plus planted near-duplicates: every 8th
    document is a one-word edit of an earlier original (3-shingle Jaccard
    ~0.85-0.95, above the engine's 0.8 threshold), so near-dup clustering
    has star-shaped components of size 2-4 to find."""
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i % 8 == 7:
            words = texts[8 * int(rng.integers(0, i // 8 + 1))].split()
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            n = int(rng.integers(30, 90))
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n)]
        texts.append(" ".join(words))
    dk = np.arange(N_DOCUMENTS, dtype=np.int64)
    return pa.table({
        "doc_id": dk,
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), N_DOCUMENTS)],
        "source": [f"src{k % 20}" for k in dk],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _keep(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.random(n) < KEEP


def subset(seed: int) -> dict[str, pa.Table]:
    """The seed's ~95% key subset of the template, foreign keys consistent:
    an order survives only with its customer, a line only with its order,
    part and supplier. Parts whose key is also a supplier key are always
    kept: the PageRank-family graphs share one id space for both, and
    dropping such a part leaves a dangling node whose rank leaks, which
    turns a 5-round fixpoint into a 20-round one."""
    t = _template()
    rng = np.random.default_rng([TEMPLATE_SEED, seed])
    kc = _keep(rng, N_CUSTOMER)
    ks = _keep(rng, N_SUPPLIER)
    kp = _keep(rng, N_PART)
    kp[:N_SUPPLIER] = True
    ko = _keep(rng, N_ORDERS) & kc[t["orders"]["o_custkey"].to_numpy()]
    kd = _keep(rng, N_DOCUMENTS)
    li = t["lineitem"]
    kl = (
        ko[li["l_orderkey"].to_numpy()]
        & kp[li["l_partkey"].to_numpy()]
        & ks[li["l_suppkey"].to_numpy()]
    )
    out = dict(t)
    out["customer"] = t["customer"].filter(pa.array(kc))
    out["supplier"] = t["supplier"].filter(pa.array(ks))
    out["part"] = t["part"].filter(pa.array(kp))
    out["orders"] = t["orders"].filter(pa.array(ko))
    out["lineitem"] = li.filter(pa.array(kl))
    out["documents"] = t["documents"].filter(pa.array(kd))
    return out


@dataclass
class StoreInput:
    """Preserve-store input: contributions ``(g, src, price)`` with a
    ``born``/``died`` delta index per row (base rows are born at 0, a row
    never retracted dies at ``n_deltas + 1``), so the live state after
    delta ``k`` is ``born <= k < died`` and references need no replay."""

    rows: pa.Table  # g, src, price, born, died
    n_deltas: int

    def delta(self, k: int) -> pa.Table:
        """Delta ``k`` (1-based) as ``(g, src, price, op)`` rows."""
        r = self.rows
        born = r["born"].to_numpy()
        died = r["died"].to_numpy()
        plus = born == k
        minus = died == k
        cols = ["g", "src", "price"]
        return pa.concat_tables([
            r.filter(pa.array(plus)).select(cols).append_column(
                "op", pa.array(["+"] * int(plus.sum()))
            ),
            r.filter(pa.array(minus)).select(cols).append_column(
                "op", pa.array(["-"] * int(minus.sum()))
            ),
        ])

    def base(self) -> pa.Table:
        return self.rows.filter(pa.array(self.rows["born"].to_numpy() == 0)).select(
            ["g", "src", "price"]
        )


def store_input(orders: pa.Table, seed: int, n_deltas: int) -> StoreInput:
    """Orders replicated ``STORE_REPLICAS`` times as contributions grouped
    by ``g = custkey * R + replica`` (many small groups, so a few hundred
    delta rows touch a small share of the state), plus ``n_deltas`` deltas
    of ``DELTA_PLUS`` inserts into existing groups and ``DELTA_MINUS``
    retractions of live rows."""
    rng = np.random.default_rng([TEMPLATE_SEED, seed, 1])
    r = STORE_REPLICAS
    ok = orders["o_orderkey"].to_numpy()
    ck = orders["o_custkey"].to_numpy()
    price = orders["o_totalprice"].to_numpy()
    rep = np.arange(r, dtype=np.int64)
    g = (ck[:, None] * r + rep[None, :]).ravel()
    src = (ok[:, None] * r + rep[None, :]).ravel()
    pr = np.round((price[:, None] * (1.0 + rep[None, :] / 100.0)).ravel(), 2)
    n0 = len(g)
    born = [np.zeros(n0, np.int64)]
    groups = np.unique(g)
    next_src = int(src.max()) + 1
    gs, ss, ps = [g], [src], [pr]
    for k in range(1, n_deltas + 1):
        gs.append(rng.choice(groups, DELTA_PLUS))
        ss.append(np.arange(next_src, next_src + DELTA_PLUS, dtype=np.int64))
        ps.append(np.round(rng.uniform(1000.0, 500000.0, DELTA_PLUS), 2))
        born.append(np.full(DELTA_PLUS, k, np.int64))
        next_src += DELTA_PLUS
    g_all = np.concatenate(gs)
    born_all = np.concatenate(born)
    died = np.full(len(g_all), n_deltas + 1, np.int64)
    for k in range(1, n_deltas + 1):
        live = np.flatnonzero((born_all < k) & (died > k))
        died[rng.choice(live, DELTA_MINUS, replace=False)] = k
    rows = pa.table({
        "g": g_all,
        "src": np.concatenate(ss),
        "price": np.concatenate(ps),
        "born": born_all,
        "died": died,
    })
    return StoreInput(rows=rows, n_deltas=n_deltas)


def write_inputs(seed: int, out_dir: str, n_deltas: int = 0) -> StoreInput | None:
    """Write the seed's tables (and, with ``n_deltas``, the store's base
    contributions and deltas) under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = subset(seed)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    if not n_deltas:
        return None
    si = store_input(tables["orders"], seed, n_deltas)
    store_dir = os.path.join(out_dir, "store")
    os.makedirs(store_dir, exist_ok=True)
    _write(si.base(), os.path.join(store_dir, "base.parquet"))
    for k in range(1, n_deltas + 1):
        _write(si.delta(k), os.path.join(store_dir, f"delta_{k:04d}.parquet"))
    return si
