"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes. Two inputs are built:

- ``write_chain_csv``: the reference's k-chains graph (k disjoint chains of
  k nodes, every tail -> sink 0), node ids relabelled by a seeded
  permutation, staged as a headerless ``src,dst`` CSV;
- ``write_corpus``: a TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` extension tables, one parquet file per
  table, with the column names and types the query registry reads. Row
  counts follow a scale factor (customers = 150000 x sf, orders = 10 x
  customers, four lineitems per order, ...), so sf=0.01 gives 1.5k
  customers, 100 suppliers, 15k orders and 60k lineitems.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "ns")

_ADJ = ["red", "old", "cold", "hot", "new", "large", "small", "blue"]
_NOUN = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
_PTYPE = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
_SEGMENT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT = ["click", "view", "purchase", "signup", "error"]
_LANG = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.44, 0.14, 0.13, 0.14, 0.15]
_VOCAB = (
    "a the data query spark table row column key value join hash sort merge "
    "filter scan group agg window order line part customer batch stream "
    "vector big small fast slow"
).split()


def chain_graph(k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) of the relabelled k-chains graph over k*k + 1 node ids.

    Original ids are 1..k*k plus the sink 0; node i -> i+1 inside a chain
    and every chain tail (i % k == 0) -> 0. A seeded permutation of
    0..k*k renames every node, the sink included."""
    src = np.arange(1, k * k + 1, dtype=np.int64)
    dst = np.where(src % k == 0, 0, src + 1)
    perm = np.random.default_rng(seed).permutation(k * k + 1).astype(np.int64)
    return perm[src], perm[dst]


def write_chain_csv(path: str, k: int, seed: int) -> None:
    src, dst = chain_graph(k, seed)
    os.makedirs(path, exist_ok=True)
    lines = np.char.add(np.char.add(src.astype(str), ","), dst.astype(str))
    with open(os.path.join(path, "part-00000.csv"), "w") as f:
        f.write("\n".join(lines.tolist()))
        f.write("\n")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: int, span: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + (rng.integers(first, first + span, n) * _DAY_US).astype(
        "timedelta64[us]"
    )


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random word strings; ~5% are near-copies of an earlier document
    (verbatim, or with one word appended) so the near-duplicate queries have
    duplicate families to find."""
    docs: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            base = docs[int(rng.integers(0, i))]
            docs.append(base + " dup" if rng.random() < 0.5 else base)
        else:
            words = rng.choice(len(_VOCAB), int(rng.integers(10, 100)))
            docs.append(" ".join(_VOCAB[w] for w in words))
    return docs


def write_corpus(out_dir: str, sf: float, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = 10 * n_cust
    n_line = 4 * n_ord
    n_users = max(15, n_cust // 10)
    n_events = max(1000, int(1_000_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENT, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPE, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, 0, 2404, n_ord)),
        "o_orderpriority": _pick(rng, _PRIORITY, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, 1, 2498, n_line)),
    })
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n_events)) * 1000
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + offs.astype("timedelta64[ns]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": _pick(rng, _EVENT, n_events),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    docs = _documents(rng, 500)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(500, dtype=np.int64)),
        "text": pa.array(docs),
        "lang": _pick(rng, _LANG, 500, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(500)]),
        "n_chars": pa.array(np.array([len(d) for d in docs], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, 500)
    centers = rng.normal(size=(10, 64))
    vecs = 0.15 * centers[labels] + rng.normal(size=(500, 64)) / 8.0
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(500, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
