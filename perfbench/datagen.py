"""Seeded generator for the benchmark's input tables.

Writes the ten tables the package's catalog registers (``region`` through
``embeddings``), one parquet file each, with the column names, types and
value distributions of the repository's synthetic TPC-H-ish test data:
an eight-table star schema, an ``events`` stream with microsecond
timestamps, a ``documents`` corpus over a 30-word vocabulary in which one
document in twenty is a planted near-duplicate of an earlier one (its text
plus the token ``dup``), and 64-dimensional unit ``embeddings``.

The same ``(seed, sf)`` always writes the same bytes. Row counts scale with
``sf`` the way the test data does (lineitem has 6,000,000 x sf rows); the
document and embedding corpora have a floor of 500 rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window")
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
_NOUN = ("ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_EMB_DIM = 64
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(_VOCAB, dtype=object)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # one doc in twenty repeats an earlier doc's text with one token added
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, _EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * _EMB_DIM, _EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Generate every table in memory. Each table draws from its own child
    stream of ``seed``, so changing one table's recipe leaves the others'
    bytes unchanged."""
    rngs = dict(zip(TABLES, (np.random.default_rng(s) for s in
                             np.random.SeedSequence(seed).spawn(len(TABLES)))))
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
            "r_name": pa.array(_REGIONS, type=pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], type=pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32())}),
    }
    r = rngs["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], type=pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(r, _SEGMENTS, n_cust)})
    r = rngs["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], type=pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp))})
    r = rngs["part"]
    keys = np.arange(n_part)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, type=pa.int64()),
        "p_name": _pick(r, tuple(names), n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)],
                            type=pa.string()),
        "p_type": _pick(r, _PTYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})
    r = rngs["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(r.integers(0, max(1, n_cust), n_ord), type=pa.int64()),
        "o_orderstatus": _pick(r, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": _pick(r, _PRIORITIES, n_ord)})
    r = rngs["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, max(1, n_ord), n_line), type=pa.int64()),
        "l_partkey": pa.array(r.integers(0, max(1, n_part), n_line), type=pa.int64()),
        "l_suppkey": pa.array(r.integers(0, max(1, n_supp), n_line), type=pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), type=pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(r, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(r, ("F", "O"), n_line),
        "l_shipdate": _ts(_EPOCH_1995 + r.integers(1, 2500, n_line) * _DAY_US)})
    r = rngs["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": _ts(_EPOCH_2024 + np.sort(r.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": pa.array(r.integers(0, n_users, n_ev), type=pa.int64()),
        "event_type": _pick(r, _EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
                          type=pa.string())})
    out["documents"] = _documents(rngs["documents"], n_docs)
    out["embeddings"] = _embeddings(rngs["embeddings"], n_emb)
    return out


def ensure_dataset(root: str, seed: int, sf: float) -> str:
    """Write the tables for ``(seed, sf)`` under ``root`` unless a complete
    copy is already there; return the directory holding the parquet files."""
    out_dir = os.path.join(root, f"seed{seed}-sf{sf:g}")
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return out_dir
