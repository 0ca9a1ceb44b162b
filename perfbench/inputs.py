"""Seeded benchmark inputs: the reporting tables, the corpus, the messy CSVs.

Everything here is set-up, never timed. The same seed writes the same
bytes: row values come from one ``numpy.random.Generator`` per table, and
the messy CSV corpus from the package's own seeded generator
(``sources.csv_gen.generate_messy_csvs``).

The tables follow the shape of the package's test data (a TPC-H-like star
plus ``documents``/``embeddings``), small enough that one pipeline
execution takes seconds on a 4-core host.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Sizes:
    """Row counts of one input set."""

    customers: int = 40
    suppliers: int = 10
    parts: int = 60
    orders: int = 400
    lineitems: int = 1600
    documents: int = 300
    vectors: int = 300
    csv_files: int = 3
    csv_rows: int = 600
    csv_keys: int = 8


#: The sizes the benchmark runs at, and the tiny set its self-test uses.
FULL = Sizes()
TINY = Sizes(
    customers=20, suppliers=6, parts=30, orders=200, lineitems=600,
    documents=150, vectors=150, csv_files=3, csv_rows=60, csv_keys=4,
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark group query row data filter customer line "
    "value agg column vector dup index shard token model train eval"
).split()
_LANGS = ["en", "zh", "fr", "de", "es"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DIM = 64
_LABELS = 10


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    """Timestamps (µs) spread over 1995-01-01 .. 2001-08-01, the range the
    six jobs' current/previous-year windows (2000/1999) fall inside."""
    lo = np.datetime64("1995-01-01", "us").astype(np.int64)
    hi = np.datetime64("2001-08-01", "us").astype(np.int64)
    day = 86_400_000_000
    days = rng.integers(0, (hi - lo) // day + 1, n)
    return pa.array(lo + days * day, type=pa.timestamp("us"))


def write_tables(out_dir: str, seed: int, sizes: Sizes = FULL) -> None:
    """Write the reporting star (region … lineitem) as parquet files."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    s = sizes
    _write(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS},
        os.path.join(out_dir, "region.parquet"),
    )
    _write(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        os.path.join(out_dir, "nation.parquet"),
    )
    _write(
        {
            "c_custkey": np.arange(s.customers, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, s.customers), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, s.customers).tolist(),
        },
        os.path.join(out_dir, "customer.parquet"),
    )
    _write(
        {
            "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
            "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, s.suppliers), 2),
        },
        os.path.join(out_dir, "supplier.parquet"),
    )
    adjectives = ["small", "red", "cold", "big", "blue"]
    nouns = ["widget", "ring", "bolt", "gear", "pipe"]
    _write(
        {
            "p_partkey": np.arange(s.parts, dtype=np.int64),
            "p_name": [
                f"{rng.choice(adjectives)} {rng.choice(nouns)}"
                for _ in range(s.parts)
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO"], s.parts).tolist(),
            "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(s.parts) * 0.1, 2),
        },
        os.path.join(out_dir, "part.parquet"),
    )
    _write(
        {
            "o_orderkey": np.arange(s.orders, dtype=np.int64),
            "o_custkey": rng.integers(0, s.customers, s.orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], s.orders).tolist(),
            "o_totalprice": np.round(rng.uniform(1000, 400000, s.orders), 2),
            "o_orderdate": _dates(rng, s.orders),
            "o_orderpriority": rng.choice(_PRIORITIES, s.orders).tolist(),
        },
        os.path.join(out_dir, "orders.parquet"),
    )
    n = s.lineitems
    _write(
        {
            "l_orderkey": rng.integers(0, s.orders, n),
            "l_partkey": rng.integers(0, s.parts, n),
            "l_suppkey": rng.integers(0, s.suppliers, n),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n).tolist(),
            "l_shipdate": _dates(rng, n),
        },
        os.path.join(out_dir, "lineitem.parquet"),
    )


def write_corpus(out_dir: str, seed: int, sizes: Sizes = FULL) -> None:
    """Write ``documents`` (word-salad text with planted near-duplicates)
    and ``embeddings`` (unit vectors in label clusters) as parquet files."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    texts = []
    for i in range(sizes.documents):
        if i % 10 == 9 and texts:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = str(rng.choice(_WORDS))
        else:
            words = rng.choice(_WORDS, int(rng.integers(8, 90))).tolist()
        texts.append(" ".join(words))
    _write(
        {
            "doc_id": np.arange(sizes.documents, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, sizes.documents, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(sizes.documents)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        os.path.join(out_dir, "documents.parquet"),
    )
    centroids = rng.normal(size=(_LABELS, _DIM))
    labels = rng.integers(0, _LABELS, sizes.vectors)
    vecs = centroids[labels] + 2.0 * rng.normal(size=(sizes.vectors, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        {
            "vec_id": np.arange(sizes.vectors, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        },
        os.path.join(out_dir, "embeddings.parquet"),
    )


def write_messy_csvs(out_dir: str, seed: int, sizes: Sizes = FULL) -> list[str]:
    """The seeded messy CSV corpus (meta rows, aliases, blank and padded
    keys; the third file has no key column) the store workflow ingests."""
    from ting_data_etl_spark.sources.csv_gen import generate_messy_csvs

    # fixed row and column counts: the seed varies the values, not the
    # amount of work
    return generate_messy_csvs(
        out_dir,
        n_files=sizes.csv_files,
        seed=seed,
        n_keys=sizes.csv_keys,
        min_rows=sizes.csv_rows,
        max_rows=sizes.csv_rows,
        min_cols=6,
        max_cols=6,
        keyless_every=3,
    )
