"""Output checks: declared queries against their DuckDB oracles.

The rule is the oracle-parity gate's: same row count, same schema width, and the
same rows once both sides are normalised and sorted. Floats compare at
nine decimals with ``-0.0`` folded into ``0.0``; NaN equals NaN. The sort
key is NULL-safe all the way down, so rows holding NULLs inside arrays
or structs still order deterministically.
"""

from __future__ import annotations

import datetime
import math
import os
from decimal import Decimal


def norm(v):
    """Canonical, comparable form of one result cell (recursive)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9) + 0.0
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted(((norm(k), norm(x)) for k, x in v.items()), key=sort_key))
    if hasattr(v, "asDict"):  # pyspark Row (a tuple subclass)
        return tuple(norm(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return norm(v.item())
    return v


def sort_key(v):
    """Total order over normalised values: NULLs first at every depth,
    then by type name, then by value."""
    if v is None:
        return (0,)
    if isinstance(v, tuple):
        return (1, "tuple", tuple(sort_key(x) for x in v))
    if isinstance(v, bool):
        return (1, "bool", int(v))
    if isinstance(v, (int, float)):
        return (1, "num", v)
    return (1, type(v).__name__, v)


def canonical_rows(rows) -> list[tuple]:
    rows = [tuple(norm(v) for v in r) for r in rows]
    try:
        return sorted(rows)  # fast path: no NULLs and one type per column
    except TypeError:
        return sorted(rows, key=sort_key)


def compare(actual_rows, actual_width: int, expected_rows, expected_width: int) -> str:
    """Return "" when the results match, else a one-line reason.
    ``expected_rows`` may already be canonical (see ``Oracle``)."""
    if actual_width != expected_width:
        return f"schema width {actual_width} != oracle {expected_width}"
    if len(actual_rows) != len(expected_rows):
        return f"{len(actual_rows)} rows != oracle {len(expected_rows)}"
    a, e = canonical_rows(actual_rows), canonical_rows(expected_rows)
    for i, (x, y) in enumerate(zip(a, e)):
        if x != y:
            return f"row {i} differs: {x!r} != oracle {y!r}"[:300]
    return ""


class Oracle:
    """DuckDB views over one generated input directory; caches each
    oracle's canonical result, since every op of a query reads the same
    inputs within a run."""

    def __init__(self, data_dir: str, tables) -> None:
        import duckdb

        self._con = duckdb.connect()
        for name in tables:
            path = os.path.join(data_dir, f"{name}.parquet")
            self._con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        self._cache: dict[str, tuple[list, int]] = {}

    def expected(self, qid: str, sql: str) -> tuple[list, int]:
        if qid not in self._cache:
            rel = self._con.sql(sql)
            self._cache[qid] = (rel.fetchall(), len(rel.columns))
        return self._cache[qid]

    def close(self) -> None:
        self._con.close()
