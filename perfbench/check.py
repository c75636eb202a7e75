"""Output checks, run after the timed window: Spark rows against DuckDB
oracle rows or a stored digest, compared order-insensitively with the
normalization of ``tests/test_oracle_parity.py``."""

from __future__ import annotations

import hashlib
import json
import math
import os

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def normalize(rows, colnames) -> list[tuple[str, ...]]:
    """Sort columns by name, then rows; canonicalize value types."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def canon(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, bool):
            return str(int(v))
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(round(v, 9))
        return str(v)

    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def digest(rows, colnames) -> str:
    body = json.dumps([sorted(colnames), normalize(rows, colnames)])
    return hashlib.sha256(body.encode()).hexdigest()


def digest_key(name: str, n_docs: int) -> str:
    return f"{name}@docs={n_docs}"


def load_digests() -> dict[str, str]:
    with open(DIGESTS) as f:
        return json.load(f)


def duck(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def matches_oracle(con, oracle: str, rows, colnames) -> bool:
    rel = con.sql(oracle)
    if sorted(rel.columns) != sorted(colnames):
        return False
    return normalize(rel.fetchall(), rel.columns) == normalize(rows, colnames)
