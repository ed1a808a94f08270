"""Seeded input tables for the benchmark.

Writes the ten tables the query registry reads (TPC-H-shaped star
schema, the ``events`` stream table, ``documents`` and ``embeddings``)
with the same column names, types and value domains as the repository's
test fixtures (FIXTURES.md section A). Everything is drawn from one
``numpy`` generator seeded by ``--seed``: the same seed and scale give
byte-identical parquet files, and row counts depend on the scale only,
never on the seed.

Each table is ONE parquet file with one row group: the streaming
queries assume a single-file source delivers one micro-batch.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]  # en ~3/7, like the fixtures
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(first: str, last: str, n: int, rng: np.random.Generator) -> pa.Array:
    """Uniform whole days in [first, last] as timestamp[us]."""
    lo = (np.datetime64(first, "D") - _EPOCH).astype(np.int64)
    hi = (np.datetime64(last, "D") - _EPOCH).astype(np.int64)
    day = rng.integers(lo, hi + 1, n)
    return pa.array(day * _US_PER_DAY, pa.timestamp("us"))


def _cents(lo: int, hi: int, n: int, rng: np.random.Generator) -> np.ndarray:
    """Uniform two-decimal amounts in [lo, hi] cents, as doubles."""
    return rng.integers(lo, hi + 1, n) / 100.0


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale ``sf`` (sf 0.1 = the fixtures' sf0.1:
    600k lineitems, 100k events, 5k documents, 2k embeddings)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(100, int(200_000 * sf)),
        "orders": max(500, int(1_500_000 * sf)),
        "lineitem": max(2_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
    }


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    """Random bag-of-words texts; about 5% are near-copies of another
    document (one token dropped, ``dup`` appended) so the dedup and
    similarity queries find true positives."""
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            drop = int(rng.integers(0, len(src)))
            texts.append(" ".join(src[:drop] + src[drop + 1 :] + ["dup"]))
        else:
            words = rng.integers(0, len(VOCAB), lengths[i])
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(n: int, rng: np.random.Generator) -> pa.Table:
    """A Poisson arrival process over 30 days from 2024-01-01, about
    67 events per user, exponential values with mean 50."""
    start = (np.datetime64("2024-01-01", "D") - _EPOCH).astype(np.int64) * _US_PER_DAY
    gaps = rng.exponential(30 * _US_PER_DAY / n, n).astype(np.int64) + 1
    users = max(10, n * 3 // 200)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[k] for k in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": np.maximum(1, np.round(rng.exponential(5000, n))) / 100.0,
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _cents(-99_999, 999_999, nc, rng),
            "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _cents(-99_999, 999_999, ns, rng),
        }
    )
    npart = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": (9000 + np.arange(npart) % 1000) / 10.0,
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, no)],
            "o_totalprice": _cents(100_000, 50_000_000, no, rng),
            "o_orderdate": _days("1995-01-01", "2001-08-01", no, rng),
            "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _cents(90_000, 10_500_000, nl, rng),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, nl)],
            "l_shipdate": _days("1995-01-02", "2001-11-04", nl, rng),
        }
    )
    out["events"] = _events(n["events"], rng)
    out["documents"] = _documents(n["documents"], rng)
    out["embeddings"] = _embeddings(n["embeddings"], rng)
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<table>.parquet`` (one file,
    one row group). Files appear atomically, table by table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path + ".tmp", row_group_size=table.num_rows or 1)
        os.replace(path + ".tmp", path)
