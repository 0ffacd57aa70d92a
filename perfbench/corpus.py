"""Deterministic synthetic corpus in the engine's table layout.

The benchmark cannot rely on a corpus outside its own checkout, so it
generates one: the ten tables ``registry.SCHEMAS`` declares, one
single-row-group parquet file each, with the value domains measured on the
engine's reference corpus (FIXTURES.md): TPC-H-ish star schema, an events
stream with microsecond timestamps and ``{"k": n}`` props, word-salad
documents over a 30-term vocabulary with 5% " dup" near-copies, and unit-norm
64-dim float embeddings.

``generate(out_dir, sf)`` is a pure function of ``sf`` and ``CORPUS_SEED``:
the benchmark's ``--seed`` permutes the op order, never the data, so every
seed checks the same outputs against the oracle.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
# Bump when the generated data changes, so a cached corpus is rebuilt.
CORPUS_VERSION = 1
# Written last into a corpus directory; marks it complete.
STAMP = "_corpus.json"

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "es", "fr", "de", "zh")
_LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
_PART_ADJ = ("small", "red", "blue", "large", "hot", "cold", "new", "old")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil")
_P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "purchase", "error", "signup", "view")


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (FIXTURES.md row table;
    documents and embeddings stop shrinking below sf0.1)."""
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _days(rng: np.random.Generator, start: str, end: str, size: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, size)
    return days.astype("datetime64[D]").astype("datetime64[us]")


def _pick(rng: np.random.Generator, values: tuple, size: int, p=None) -> list:
    return [values[i] for i in rng.choice(len(values), size, p=p)]


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _tables(sf: float) -> dict[str, pa.Table]:
    rows = table_rows(sf)
    rng = np.random.default_rng(CORPUS_SEED)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    i64 = lambda a: np.asarray(a, dtype=np.int64)  # noqa: E731
    n_c, n_s, n_p, n_o, n_l, n_e = (
        rows[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    out = {
        "region": {
            "r_regionkey": i32(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        },
        "customer": {
            "c_custkey": i64(range(n_c)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": i32(rng.integers(0, 25, n_c)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_c),
        },
        "supplier": {
            "s_suppkey": i64(range(n_s)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": i32(rng.integers(0, 25, n_s)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        },
        "part": {
            "p_partkey": i64(range(n_p)),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": _pick(rng, _P_TYPES, n_p),
            "p_size": i32(rng.integers(1, 51, n_p)),
            "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": i64(range(n_o)),
            "o_custkey": i64(rng.integers(0, n_c, n_o)),
            "o_orderstatus": _pick(rng, ("P", "O", "F"), n_o),
            "o_totalprice": _money(rng, 1000, 500000, n_o),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_o),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_o),
        },
        "lineitem": {
            "l_orderkey": i64(rng.integers(0, n_o, n_l)),
            "l_partkey": i64(rng.integers(0, n_p, n_l)),
            "l_suppkey": i64(rng.integers(0, n_s, n_l)),
            "l_linenumber": i32(rng.integers(1, 8, n_l)),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_l),
            "l_linestatus": _pick(rng, ("F", "O"), n_l),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_l),
        },
        "events": {
            "event_id": i64(range(n_e)),
            "ts": np.sort(
                np.datetime64("2024-01-01", "us")
                + rng.integers(0, 30 * 86_400_000_000, n_e).astype("timedelta64[us]")
            ),
            "user_id": i64(rng.integers(0, 150, n_e)),
            "event_type": _pick(rng, _EVENT_TYPES, n_e),
            "value": np.round(rng.exponential(50.0, n_e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
        },
        "documents": _documents(rng, rows["documents"]),
    }
    tables = {name: pa.table(cols) for name, cols in out.items()}
    tables["embeddings"] = _embeddings(rng, rows["embeddings"])
    return tables


def generate(out_dir: str, sf: float) -> str:
    """Write the corpus for ``sf`` under ``out_dir`` unless an identical one
    is already there; returns the directory. A stamp file written last marks
    a complete corpus, so an interrupted write is regenerated."""
    stamp = os.path.join(out_dir, STAMP)
    want = {"version": CORPUS_VERSION, "seed": CORPUS_SEED, "sf": sf}
    try:
        with open(stamp) as f:
            if json.load(f) == want:
                return out_dir
    except (OSError, ValueError):
        pass
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows), compression="snappy",
        )
    with open(stamp, "w") as f:
        json.dump(want, f)
    return out_dir
