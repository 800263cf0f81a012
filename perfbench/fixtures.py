"""Benchmark inputs: a deterministic base fixture and its 10x replica.

The base fixture has the schema and value distributions of the package's
test tables (TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``) at roughly sf0.01: 60,000 lineitem rows. It is generated
from a fixed seed, so every benchmark run reads identical base inputs.

The 10x fixture is the base fixture replicated ten times. Replica ``r``
shifts every surrogate key by ``offsets[r] * stride``; the benchmark seed
chooses the offsets, so each seed gives a different key layout over the
same value multiset (seeds that agree modulo ``LAYOUTS`` share a
layout). DuckDB writes one parquet file per table, which is
the layout ``oracle_check.duckdb_connection`` reads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
BASE_SEED = 42
REPLICAS = 10
# Seeds map onto this many key layouts, so a series of runs builds the 10x
# fixture and its oracle results a few times rather than once per seed.
LAYOUTS = 4

# Rows per table at the base scale.
BASE_ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64
DUP_FRACTION = 0.05


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(_pick(rng, VOCAB, int(k)))
        for k in rng.integers(10, 100, n)
    ]
    # Planted near-duplicates: a copy of another document plus a marker.
    for i in np.flatnonzero(rng.random(n) < DUP_FRACTION):
        src = int(rng.integers(0, n - 1))
        src += src >= i
        texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = 0.14 * centroids[labels] + rng.normal(0.0, 0.125, (n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def base_tables(seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """Every fixture table at the base scale, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    n = BASE_ROWS
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": i32([k % 5 for k in range(25)]),
    })
    t["customer"] = pa.table({
        "c_custkey": i64(np.arange(n["customer"])),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
        "c_acctbal": _money(rng, -1000, 10000, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(n["supplier"])),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
        "s_acctbal": _money(rng, -1000, 10000, n["supplier"]),
    })
    t["part"] = pa.table({
        "p_partkey": i64(np.arange(n["part"])),
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in rng.integers(0, 8, (n["part"], 2))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": _pick(rng, PART_TYPES, n["part"]),
        "p_size": i32(rng.integers(1, 51, n["part"])),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n["orders"])),
        "o_custkey": i64(rng.integers(0, n["customer"], n["orders"])),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n["orders"], m)),
        "l_partkey": i64(rng.integers(0, n["part"], m)),
        "l_suppkey": i64(rng.integers(0, n["supplier"], m)),
        "l_linenumber": i32(rng.integers(1, 8, m)),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": np.round(rng.uniform(0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, m), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400_000_000
    t["events"] = pa.table({
        "event_id": i64(np.arange(e)),
        "ts": np.sort(start + rng.integers(0, span_us, e)).astype("datetime64[us]"),
        "user_id": i64(rng.integers(0, e * 3 // 200, e)),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_base(out_dir: str) -> None:
    """Write the base fixture, one parquet file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in base_tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def replica_offsets(seed: int) -> list[int]:
    """Key offset (in strides) of each replica: a seeded permutation."""
    rng = np.random.default_rng(seed % LAYOUTS)
    return [int(k) for k in rng.permutation(REPLICAS)]


# Key columns shifted per replica, and the base table whose row count
# sets the stride (a shifted key never collides with another replica's).
_KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
    "events": {"event_id": "events", "user_id": "events"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}


def write_replicated(base_dir: str, out_dir: str, offsets: list[int]) -> dict[str, int]:
    """Write the 10x fixture with DuckDB ``COPY ... TO``; return row counts."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    values = ", ".join(f"({r}, {k})" for r, k in enumerate(offsets))
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE rep AS SELECT * FROM (VALUES {values}) v(r, k)")
        counts = {}
        for name in TABLES:
            src = os.path.join(base_dir, f"{name}.parquet")
            dst = os.path.join(out_dir, f"{name}.parquet")
            keys = _KEYS.get(name)
            if keys is None:  # small dimension tables are shared, not replicated
                sql = f"SELECT * FROM read_parquet('{src}')"
            else:
                shifted = ", ".join(
                    f"{col} + rep.k * {BASE_ROWS[by]} AS {col}" for col, by in keys.items()
                )
                sql = (
                    f"SELECT t.* REPLACE ({shifted}) FROM read_parquet('{src}') t, rep "
                    f"ORDER BY rep.r"
                )
            con.execute(f"COPY ({sql}) TO '{dst}' (FORMAT PARQUET)")
            counts[name] = con.execute(
                f"SELECT count(*) FROM read_parquet('{dst}')"
            ).fetchone()[0]
        return counts
    finally:
        con.close()


def expected_counts(replicated: bool) -> dict[str, int]:
    rows = {"region": 5, "nation": 25, **BASE_ROWS}
    if replicated:
        rows = {k: v * (REPLICAS if k in _KEYS else 1) for k, v in rows.items()}
    return rows
