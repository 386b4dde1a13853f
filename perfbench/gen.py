"""Seeded input generator for the benchmark.

Mirrors the schema and planted properties of ``tools_gen_scale.py``
(itself a mirror of the repository's sf* test fixtures): the same ten
tables and column types, the same value domains and date ranges (events 2024-01-01..30, so
forecast jobs can hold out day 30), ~20% entity words ``e<k>`` in the
documents (the entity domain grows with the corpus, so the word graph
has ~1,000 nodes at 1x), ~8% duplicate documents (half byte-identical,
half with one appended word) and ~2% near-duplicate embeddings.

Unlike ``tools_gen_scale.py`` it runs without a JVM: every cell is a
pure function of (table salt, row id, seed) through a splitmix64 hash
in NumPy, and the tables are written with pyarrow as single parquet
files shaped like those fixtures (naive ``timestamp[us]`` columns).
The seed is mixed into every hash, so two seeds share no values beyond
the fixed dimension tables.

    python3 perfbench/gen.py <out_dir> --seed 7 --mult 0.5
"""

from __future__ import annotations

import argparse
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts (TESTDATA.md); ``mult`` scales each
BASE = {
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
TABLES = tuple(BASE)
BASE_USERS = 1_500

VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "join", "shuffle", "plan", "cache", "a", "the",
]
SEGMENTS = ["BUILDING", "FURNITURE", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"]
PWORD1 = ["large", "hot", "blue", "old", "new", "dark", "pale", "spring"]
PWORD2 = ["ring", "bolt", "plate", "gear", "cap", "tube", "rod", "disk"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "en", "en", "en", "en", "zh", "de", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer on a uint64 array."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _h(seed: int, salt: int, *cols: np.ndarray) -> np.ndarray:
    """uint64 hash of (seed, salt, cols...) — the seed enters every hash."""
    with np.errstate(over="ignore"):
        acc = _mix(np.uint64((seed * 0x9E3779B97F4A7C15 + salt) & 0xFFFFFFFFFFFFFFFF)
                   + np.zeros(1, np.uint64))
        for c in cols:
            acc = _mix(acc ^ (np.asarray(c).astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)))
    return acc


def _mod(seed: int, salt: int, n: int, *cols: np.ndarray) -> np.ndarray:
    return (_h(seed, salt, *cols) % np.uint64(n)).astype(np.int64)


def _u(seed: int, salt: int, *cols: np.ndarray) -> np.ndarray:
    """Uniform double in [0, 1) on a 1e-6 grid (the tools_gen_scale shape)."""
    return _mod(seed, salt, 1_000_000, *cols) / 1.0e6


def _pick(options: list[str], seed: int, salt: int, *cols: np.ndarray) -> pa.Array:
    idx = _mod(seed, salt, len(options), *cols)
    return pa.array(np.asarray(options, dtype=object)[idx], pa.string())


def _ts(lo: str, hi: str, seed: int, salt: int, ids: np.ndarray, day: bool) -> pa.Array:
    t_lo = np.datetime64(lo, "s").astype(np.int64)
    span = np.datetime64(hi, "s").astype(np.int64) - t_lo
    sec = t_lo + np.floor(_u(seed, salt, ids) * span).astype(np.int64)
    if day:
        us = (sec // 86_400) * 86_400 * 1_000_000
    else:
        us = sec * 1_000_000 + _mod(seed, salt + 1, 1_000_000, ids)
    return pa.array(us, pa.timestamp("us"))


def gen_table(name: str, seed: int, mult: float) -> pa.Table:
    n = {k: max(1, int(v * mult)) for k, v in BASE.items()}
    n["region"], n["nation"] = 5, 25
    i = np.arange(n[name], dtype=np.int64)
    s = seed
    if name == "region":
        return pa.table({"r_regionkey": pa.array(i, pa.int32()), "r_name": pa.array(REGIONS)})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(i, pa.int32()),
            "n_name": pa.array([f"NATION_{k}" for k in i]),
            "n_regionkey": pa.array(i % 5, pa.int32()),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": i,
            "c_name": pa.array([f"Customer#{k:09d}" for k in i]),
            "c_nationkey": pa.array(_mod(s, 101, 25, i), pa.int32()),
            "c_acctbal": np.round(_u(s, 102, i) * 10_000, 2),
            "c_mktsegment": _pick(SEGMENTS, s, 103, i),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": i,
            "s_name": pa.array([f"Supplier#{k:09d}" for k in i]),
            "s_nationkey": pa.array(_mod(s, 111, 25, i), pa.int32()),
            "s_acctbal": np.round(_u(s, 112, i) * 10_000, 2),
        })
    if name == "part":
        w1 = np.asarray(PWORD1, dtype=object)[_mod(s, 121, len(PWORD1), i)]
        w2 = np.asarray(PWORD2, dtype=object)[_mod(s, 122, len(PWORD2), i)]
        return pa.table({
            "p_partkey": i,
            "p_name": pa.array(w1 + " " + w2, pa.string()),
            "p_brand": pa.array([f"Brand#{b + 1}" for b in _mod(s, 123, 25, i)]),
            "p_type": _pick(PTYPES, s, 124, i),
            "p_size": pa.array(_mod(s, 125, 50, i) + 1, pa.int32()),
            "p_retailprice": np.round(900.0 + (i % 1000) * 0.1, 2),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": i,
            "o_custkey": np.floor(_u(s, 131, i) * n["customer"]).astype(np.int64),
            "o_orderstatus": _pick(["O", "F", "P"], s, 132, i),
            "o_totalprice": np.round(_u(s, 133, i) * 499_000 + 1_000, 2),
            "o_orderdate": _ts("1995-01-01", "2001-08-02", s, 134, i, day=True),
            "o_orderpriority": _pick(PRIORITIES, s, 135, i),
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": _mod(s, 141, n["orders"], i),
            "l_partkey": np.floor(_u(s, 142, i) * n["part"]).astype(np.int64),
            "l_suppkey": np.floor(_u(s, 143, i) * n["supplier"]).astype(np.int64),
            "l_linenumber": pa.array(i % 7 + 1, pa.int32()),
            "l_quantity": np.floor(_u(s, 144, i) * 50) + 1.0,
            "l_extendedprice": np.round(_u(s, 145, i) * 104_000 + 900, 2),
            "l_discount": np.round(_u(s, 146, i) * 0.1, 2),
            "l_tax": np.round(_u(s, 147, i) * 0.08, 2),
            "l_returnflag": _pick(["A", "N", "R"], s, 148, i),
            "l_linestatus": _pick(["O", "F"], s, 149, i),
            "l_shipdate": _ts("1995-01-02", "2001-11-05", s, 150, i, day=True),
        })
    if name == "events":
        users = max(2, int(BASE_USERS * mult))
        heavy = _u(s, 154, i) < 0.02
        value = np.where(heavy, _u(s, 155, i) * 560, _u(s, 156, i) * 100)
        return pa.table({
            "event_id": i,
            "ts": _ts("2024-01-01", "2024-01-31", s, 151, i, day=False),
            "user_id": _mod(s, 152, users, i),
            "event_type": _pick(EVENT_TYPES, s, 153, i),
            "value": np.round(value, 2),
            "props": pa.array([f'{{"k": {k}}}' for k in _mod(s, 157, 100, i)]),
        })
    if name == "documents":
        return _documents(s, n["documents"], i)
    if name == "embeddings":
        return _embeddings(s, n["embeddings"], i)
    raise KeyError(name)


def _documents(s: int, ndoc: int, i: np.ndarray) -> pa.Table:
    # ~8% of rows re-derive their text from an earlier base doc: half
    # byte-identical (exact dedup), half with " near" appended (near dedup)
    nuniq = max(1, int(ndoc * 0.92))
    base = np.where((_u(s, 171, i) < 0.08) & (i >= 100), _mod(s, 172, nuniq, i), i)
    nwords = _mod(s, 173, 51, base) + 10
    ent_dom = max(ndoc // 5, 100)
    vocab = np.asarray(VOCAB, dtype=object)
    # token x of doc b: entity word with prob 1/5, else a vocabulary word
    rows = np.repeat(base, nwords)
    pos = np.concatenate([np.arange(1, k + 1) for k in nwords]) if len(nwords) else rows
    is_ent = _mod(s, 178, 5, rows, pos) == 0
    ent = _mod(s, 179, ent_dom, rows, pos)
    word = _mod(s, 174, len(VOCAB), rows, pos)
    toks = np.where(is_ent, np.char.add("e", ent.astype(str)).astype(object), vocab[word])
    bounds = np.concatenate([[0], np.cumsum(nwords)])
    near = (base != i) & (_mod(s, 175, 2, i) == 0)
    text = [
        " ".join(toks[bounds[k]:bounds[k + 1]]) + (" near" if near[k] else "")
        for k in range(len(i))
    ]
    return pa.table({
        "doc_id": i,
        "text": pa.array(text, pa.string()),
        "lang": _pick(LANGS, s, 176, base),
        "source": pa.array([f"src{k}" for k in _mod(s, 177, 20, base)]),
        "n_chars": np.fromiter((len(t) for t in text), np.int64, len(text)),
    })


def _embeddings(s: int, nemb: int, i: np.ndarray) -> pa.Table:
    # 64-d, weakly label-clustered, plus ~2% planted near-duplicates
    # (base vector + 1% jitter)
    nuniq = max(1, int(nemb * 0.98))
    ebase = np.where((_u(s, 181, i) < 0.02) & (i >= 100), _mod(s, 182, nuniq, i), i)
    label = _mod(s, 183, 10, ebase)
    d = np.arange(64, dtype=np.int64)
    lab2, d2 = np.meshgrid(label, d, indexing="ij")
    base2, _ = np.meshgrid(ebase, d, indexing="ij")
    id2, _ = np.meshgrid(i, d, indexing="ij")
    vec = (_mod(s, 184, 1000, lab2, d2) / 4000.0 - 0.125) + (
        _mod(s, 185, 1000, base2, d2) / 1000.0 - 0.5
    )
    jitter = _mod(s, 186, 1000, id2, d2) / 50_000.0 - 0.01
    vec = np.where((ebase != i)[:, None], vec + jitter, vec).astype(np.float32)
    return pa.table({
        "vec_id": i,
        "embedding": pa.FixedSizeListArray.from_arrays(vec.reshape(-1), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(label, pa.int32()),
    })


def dataset_dir(root: str, seed: int, mult: float) -> str:
    return os.path.join(root, f"seed{seed}_x{mult:g}")


def ensure(root: str, seed: int, mult: float, tables: list[str]) -> tuple[str, float]:
    """Write the missing ``tables`` for (seed, mult) under ``root``; return
    the dataset directory and the seconds spent generating (0 if cached)."""
    out = dataset_dir(root, seed, mult)
    os.makedirs(out, exist_ok=True)
    t0 = time.perf_counter()
    for name in tables:
        path = os.path.join(out, f"{name}.parquet")
        if os.path.exists(path):
            continue
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(gen_table(name, seed, mult), tmp)
        os.replace(tmp, path)
    return out, time.perf_counter() - t0


def row_counts(path: str, tables: list[str]) -> dict[str, int]:
    return {
        t: pq.ParquetFile(os.path.join(path, f"{t}.parquet")).metadata.num_rows
        for t in tables
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--mult", type=float, default=1.0)
    ap.add_argument("--tables", default=",".join(TABLES))
    a = ap.parse_args()
    path, secs = ensure(a.out_dir, a.seed, a.mult, a.tables.split(","))
    print(f"{path} generated in {secs:.2f} s")


if __name__ == "__main__":
    main()
