"""Seeded generator for the ten tables the declared queries read.

The tables follow the shapes of the TPC-H-ish test corpus described in
FIXTURES.md (same columns, types, key ranges and categorical values), so
every declared query and its DuckDB oracle run unchanged on them. Row
counts scale with ``sf`` the way the corpus does between sf0.001 and sf0.1.

Each generated directory carries ``manifest.json``: per table the row
count and an order-insensitive content hash (a sum of DuckDB row hashes).
Spark and pyarrow file bytes are not stable, the rows are; a corpus is
re-checked against its manifest before every run.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.15, 0.40, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale ``sf`` (sf0.001 and sf0.1 match the corpus)."""
    k = sf / 0.001
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150 * k)),
        "supplier": max(1, round(10 * k)),
        "part": max(1, round(200 * k)),
        "orders": max(1, round(1500 * k)),
        "lineitem": max(1, round(6000 * k)),
        "events": max(1, round(1000 * k)),
        "documents": max(1, round(500 * k ** 0.5)),
        "embeddings": max(1, round(500 * k ** 0.3)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days: int, n: int) -> np.ndarray:
    return start + rng.integers(0, n_days + 1, n).astype("timedelta64[D]")


def generate_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    keys = np.arange(npart)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, npart)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, npart)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, _EPOCH_1995, 2404, no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2498, nl),
    })
    ne = n["events"]
    users = max(15, ne // 67)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne)).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, users, ne), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))]) for _ in range(nd)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return t


def content_digest(sf_dir: str) -> dict[str, dict[str, int]]:
    """Row count and order-insensitive hash of every table in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        out = {}
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            rows, digest = con.execute(
                f"SELECT count(*), coalesce(sum(hash(t)::HUGEINT) % 18446744073709551557, 0)::UBIGINT "
                f"FROM read_parquet('{path}') t"
            ).fetchone()
            out[name] = {"rows": int(rows), "hash": int(digest)}
        return out
    finally:
        con.close()


def ensure_corpus(root: str, sf: float, seed: int) -> str:
    """Return the directory of the corpus for ``(sf, seed)`` under ``root``,
    generating it on first use, and verify it against its manifest."""
    d = os.path.join(root, f"sf{sf:g}-seed{seed}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, table in generate_tables(sf, seed).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"sf": sf, "seed": seed, "tables": content_digest(tmp)}, f, indent=1)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(manifest) as f:
        want = json.load(f)["tables"]
    got = content_digest(d)
    if got != want:
        bad = sorted(k for k in want if want[k] != got.get(k))
        raise RuntimeError(f"corpus {d} does not match its manifest: {bad}")
    return d
