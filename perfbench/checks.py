"""Output checks: independent counts and DuckDB oracle twins.

Nothing here runs inside a timed window. Values are compared through one
canonical form: every cell becomes a float when it parses as one (so
``5``, ``5.0`` and ``"5"`` agree), else a string, and empty/NULL/NaN
become None; a relation's digest is the SHA-256 of its sorted rows.
"""

from __future__ import annotations

import csv
import hashlib
import math
import os
from collections import Counter

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings",
)


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, bool):
        return str(v).lower()
    s = str(v)
    if s == "":
        return None
    try:
        f = float(s)
    except ValueError:
        return s
    return None if math.isnan(f) else f


def digest(rows) -> str:
    """Order-independent SHA-256 of an iterable of row tuples."""
    canon = sorted(
        (tuple(_cell(v) for v in r) for r in rows),
        key=lambda r: tuple((x is None, type(x).__name__, x or 0) for x in r),
    )
    return hashlib.sha256(repr(canon).encode()).hexdigest()


class Oracles:
    """The registered DuckDB twins, run over one input directory."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        from ting_data_etl_spark import registry

        self.specs = registry.ORACLES
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._cache: dict[str, tuple[list[str], str, int]] = {}

    def expect(self, query: str) -> tuple[list[str], str, int]:
        """(columns, digest, row count) of the oracle for *query*."""
        if query not in self._cache:
            spec = self.specs[query]
            cur = self.con.execute(spec() if callable(spec) else spec)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            self._cache[query] = (cols, digest(rows), len(rows))
        return self._cache[query]

    def close(self) -> None:
        self.con.close()


def read_back_per_store(out_dir: str, file_name: str) -> tuple[list[str], list, int, int]:
    """Read every ``{out_dir}/{store}/{file_name}`` written by the per-group
    sink: (header, rows, files, bytes). Headers must agree across files."""
    header, rows, files, size = None, [], 0, 0
    for store in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, store, file_name)
        if not os.path.isfile(path):
            continue
        files += 1
        size += os.path.getsize(path)
        with open(path, newline="", encoding="utf-8-sig") as f:
            reader = csv.reader(f)
            head = next(reader)
            if header is None:
                header = head
            elif head != header:
                raise ValueError(f"{path}: header {head} != {header}")
            rows.extend(reader)
    return header or [], rows, files, size


def expected_fanout(path: str, key_col: str = "store_id") -> Counter | None:
    """Valid-key data rows per trimmed key of one messy CSV, counted with
    the csv module alone; None when no row holds the key column."""
    with open(path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    for i, row in enumerate(rows):
        cells = [c.strip() for c in row]
        if key_col in cells:
            k = cells.index(key_col)
            counts = Counter()
            for data in rows[i + 1 :]:
                if not data:
                    continue
                key = data[k].strip(" ") if k < len(data) else ""
                if key:
                    counts[key] += 1
            return counts
    return None
