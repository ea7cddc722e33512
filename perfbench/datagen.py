"""Deterministic fixture tables for the benchmark.

Writes the TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings`` as one single-row-group parquet file per table, with the
same schemas and value ranges as the repository's test data.  The tables
are a fixed fixture (seeded by ``TABLE_SEED``), not a per-run input: the
run seed only chooses requests and their parameters, so the tables are
built once per checkout and reused by every run.

Scale: ``sf=0.1`` gives 600k lineitem rows and 5,000 documents; ``sf=0.01``
gives 60k lineitem rows and 500 documents (used for the oracle checks
DuckDB cannot finish at sf0.1).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _sizes(sf: float) -> dict:
    n = lambda base: max(int(round(base * sf)), 1)  # noqa: E731
    return {"customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
            "orders": n(1_500_000), "lineitem": n(6_000_000),
            "events": n(1_000_000), "users": n(15_000),
            "documents": 5000 if sf >= 0.1 else 500,
            "embeddings": 2000 if sf >= 0.1 else 500}


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # 5% near-duplicates (an earlier doc plus one token) and a few exact
    # copies, so the dedup operators have something to find.
    for i in np.sort(rng.choice(np.arange(1, n), n // 20 + 8, replace=False)):
        src = texts[int(rng.integers(0, i))]
        texts[i] = src if rng.random() < 8 / (n // 20 + 8) else src + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})


def make_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([TABLE_SEED, int(sf * 1000)])
    s = _sizes(sf)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    t = {}
    t["region"] = pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    nc = s["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    ns = s["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = s["part"]
    adj = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    noun = ["ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "screw"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1)})
    no = s["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", 2405, no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = s["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", 2499, nl)})
    ne = s["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + (secs * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, s["users"], ne),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    t["documents"] = _documents(rng, s["documents"])
    t["embeddings"] = _embeddings(rng, s["embeddings"])
    return t


def ensure(root: str, sf: float) -> str:
    """Build the tables for ``sf`` under ``root`` once; return their dir."""
    out = os.path.join(root, f"sf{sf:g}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in make_tables(sf).items():
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, row_group_size=max(table.num_rows, 1))
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(f"seed={TABLE_SEED}\n")
    return out
