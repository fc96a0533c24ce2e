"""Deterministic lake fixture for the MCP benchmark.

Writes the ten tables the engine's loaders expect
(``sources/tables.py`` SCHEMAS: a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``), one parquet file with
one row group each, with the same column types, value ranges and row
counts per scale factor as the repository's test fixtures.

The data depends only on the scale factor and ``DATA_SEED``, never on
the workload seed: the workload seed picks query parameters and call
order, so every seed runs against the same lake. Tables are written to
a temporary directory and renamed into place, so an interrupted run
never leaves a half-written fixture behind.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
FIXTURE_VERSION = 1

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
_EMBED_DIM = 64
_EMBED_LABELS = 10


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "users": round(15_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _ts(base: datetime, micros: np.ndarray) -> pa.Array:
    epoch = int((base - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(micros.astype("int64") + epoch, pa.timestamp("us"))


def _days(rng, n, start: datetime, end: datetime) -> pa.Array:
    span = (end - start).days + 1
    return _ts(start, rng.integers(0, span, n) * 86_400_000_000)


def _money(rng, n, lo, hi) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few words
            # swapped (sometimes none), tagged like the test fixture
            words = texts[rng.integers(0, i)].split()
            if words[-1] == "dup":
                words = words[:-1]
            for _ in range(rng.integers(0, 3)):
                words[rng.integers(0, len(words))] = _WORDS[rng.integers(0, len(_WORDS))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    langs = np.asarray(_LANGS, dtype=object)[
        rng.choice(len(_LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(size=(_EMBED_LABELS, _EMBED_DIM))
    labels = rng.integers(0, _EMBED_LABELS, n)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (lineitem = 6M × sf rows)."""
    rng = np.random.default_rng([DATA_SEED, round(sf * 1_000_000)])
    c = row_counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    n = c["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), i64),
            "c_name": _names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n),
        }
    )
    n = c["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), i64),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "s_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
        }
    )
    n = c["part"]
    keys = np.arange(n)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": pa.array(
                [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
                ]
            ),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, _PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), i32),
            "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
        }
    )
    n = c["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), i64),
            "o_custkey": pa.array(rng.integers(0, c["customer"], n), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, n, 1000.0, 500000.0)),
            "o_orderdate": _days(rng, n, datetime(1995, 1, 1), datetime(2001, 8, 1)),
            "o_orderpriority": _pick(rng, _PRIORITIES, n),
        }
    )
    n = c["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, c["orders"], n), i64),
            "l_partkey": pa.array(rng.integers(0, c["part"], n), i64),
            "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, n, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, n, datetime(1995, 1, 2), datetime(2001, 11, 4)),
        }
    )
    n = c["events"]
    month_us = int(timedelta(days=30).total_seconds() * 1_000_000)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), i64),
            "ts": _ts(datetime(2024, 1, 1), np.sort(rng.integers(0, month_us, n))),
            "user_id": pa.array(rng.integers(0, c["users"], n), i64),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": pa.array(np.round(rng.gamma(2.0, 50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    out["documents"] = _documents(rng, c["documents"])
    out["embeddings"] = _embeddings(rng, c["embeddings"])
    return out


def ensure(root: str, sf: float) -> str:
    """Return the directory holding the fixture at ``sf`` under
    ``root``, generating it on first use."""
    final = os.path.join(root, f"lake-v{FIXTURE_VERSION}-sf{sf:g}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    try:
        os.rename(tmp, final)
    except OSError:  # another run finished first; keep its copy
        shutil.rmtree(tmp, ignore_errors=True)
    return final
