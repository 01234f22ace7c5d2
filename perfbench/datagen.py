"""Seeded generator for the ten tables the query registry reads.

The benchmark must not read data from outside its checkout, so it
writes its own copies of the tables every query reads (same names,
columns, types and value domains as the TESTDATA.md TPC-H-ish star schema
plus ``events``, ``documents`` and ``embeddings``). The seed decides
every value; the row counts are fixed per workload, so two seeds give
the same amount of work on different inputs.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the documents' word pool and the part-name vocabulary of the TESTDATA.md tables
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch"
    " spark line sort window data column join small customer query order"
    " group filter stream big vector"
).split()
_ADJ = "small red blue hot old large new cold".split()
_NOUN = "ring widget bolt gear gizmo plate anvil rod".split()
_LANGS = (["en"] * 3) + ["zh", "es", "de", "fr"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_MS_PER_DAY = 86_400_000


@dataclass(frozen=True)
class Scale:
    """Row counts of the generated tables."""

    customers: int = 150
    suppliers: int = 10
    parts: int = 200
    orders: int = 1500
    lineitems: int = 6000
    events: int = 1000
    users: int = 15
    documents: int = 50
    embeddings: int = 50


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    """Every table as an Arrow table; identical for identical arguments."""
    rng = np.random.default_rng(seed)
    s = scale
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(s.customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            s.customers,
        ),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(s.parts, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in rng.integers(0, 8, (s.parts, 2))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], s.parts
        ),
        "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(s.parts) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(s.orders, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customers, s.orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], s.orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
        "o_orderdate": _days(rng, s.orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            s.orders,
        ),
    })
    qty = rng.integers(1, 51, s.lineitems).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, s.orders, s.lineitems),
        "l_partkey": rng.integers(0, s.parts, s.lineitems),
        "l_suppkey": rng.integers(0, s.suppliers, s.lineitems),
        "l_linenumber": pa.array(rng.integers(1, 8, s.lineitems), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, s.lineitems), 2),
        "l_discount": rng.integers(0, 11, s.lineitems) / 100.0,
        "l_tax": rng.integers(0, 9, s.lineitems) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], s.lineitems),
        "l_linestatus": rng.choice(["F", "O"], s.lineitems),
        "l_shipdate": _days(rng, s.lineitems, "1995-01-02", "2001-11-04"),
    })
    # events: strictly increasing microsecond timestamps over 30 days
    gaps = rng.uniform(0.2, 1.8, s.events)
    us = np.cumsum(gaps / gaps.sum() * (30 * _MS_PER_DAY * 1000 - 10**6))
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(s.events, dtype=np.int64),
        "ts": pa.array((t0 + us.astype(np.int64)).astype("datetime64[us]")),
        "user_id": rng.integers(0, s.users, s.events),
        "event_type": rng.choice(_EVENT_TYPES, s.events),
        "value": np.maximum(np.round(rng.exponential(49.6, s.events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
    })
    # a fixed set of lengths and a fixed number of near-copies, so the
    # text volume and the dedup work barely change from seed to seed
    lens = rng.permutation(np.linspace(8, 95, s.documents).round().astype(int))
    words = [list(rng.choice(WORDS, n)) for n in lens]
    source = [f"src{i % 20}" for i in range(s.documents)]
    # one document in eight is a near-copy (1-3 words replaced) of an
    # earlier one from the same source, so the dedup queries, which
    # pair documents within a source, find pairs, spans and chains
    copies = rng.choice(np.arange(1, s.documents), s.documents // 8, replace=False)
    for i in np.sort(copies):
        j = int(rng.integers(0, i))
        copy = list(words[j])
        for pos in rng.integers(0, len(copy), rng.integers(1, 4)):
            copy[pos] = rng.choice(WORDS)
        words[i], source[i] = copy, source[j]
    text = [" ".join(w) for w in words]
    out["documents"] = pa.table({
        "doc_id": np.arange(s.documents, dtype=np.int64),
        "text": text,
        "lang": rng.choice(_LANGS, s.documents),
        "source": source,
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    emb = rng.normal(0.0, 1.0, (s.embeddings, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(s.embeddings, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, s.embeddings), pa.int32()),
    })
    return out


def write(out_dir: Path, seed: int, scale: Scale) -> Path:
    """Write ``<table>.parquet`` files under ``out_dir``; returns it."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir
