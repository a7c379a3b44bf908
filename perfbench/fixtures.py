"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the run's
seed: the ten catalog tables (same schemas and value domains as the
repository's test fixtures) and the document pool the ingest backlog
is drawn from.  The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
COLORS = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(np.int64) + 1, n)).astype(
        "datetime64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def word_shingles(text: str) -> frozenset:
    """Distinct word 3-grams, the unit of the package's near-dup
    Jaccard (a text of fewer than three words is one shingle)."""
    toks = text.split(" ")
    if len(toks) < 3:
        return frozenset([text])
    return frozenset(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def make_documents(rng, n: int) -> dict:
    """Word-salad documents; one in twenty is a copy of an earlier
    document with ``dup`` appended, so near-duplicate pairs exist."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [DOC_LANGS[j] for j in rng.integers(0, len(DOC_LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_tables(sf_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the catalog's ten tables at scale ``sf`` (sf 0.01 is the
    size of the repository's oracle fixture); returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n_cust, n_ord, n_part, n_supp = (
        max(50, int(150_000 * sf)),
        max(200, int(1_500_000 * sf)),
        max(100, int(200_000 * sf)),
        max(10, int(10_000 * sf)),
    )
    n_line, n_events, n_docs = 4 * n_ord, int(1_000_000 * sf), int(50_000 * sf)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    tables = {
        "region": {"r_regionkey": i32(range(5)), "r_name": list(REGIONS)},
        "nation": {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [P_TYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(
                900 + (np.arange(n_part) % 1000) * 0.1, 2
            ),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            # not rounded to cents: products with the 2-decimal discount
            # would otherwise land on exact half-cents, where ROUND of a
            # double sum depends on summation order
            "l_extendedprice": rng.uniform(900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        },
    }
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events)) + (
        np.datetime64("2024-01-01T00:00:00", "us") - EPOCH_US
    ).astype(np.int64)
    tables["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(20, int(15_000 * sf)), n_events),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }
    tables["documents"] = make_documents(rng, n_docs)
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_docs)
    emb = centers[labels] + rng.normal(scale=0.8, size=(n_docs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(labels),
    }
    for name, cols in tables.items():
        _write(os.path.join(sf_dir, f"{name}.parquet"), cols)
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}
