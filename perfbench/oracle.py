"""Value-level answer checks against DuckDB.

Both sides are brought to the service's JSON wire form (DuckDB values pass
through the same mapping the reference's HTTP layer applies), then compared
with the cell normalization of ``tools/diffcheck.py``: columns sorted by
name, rows sorted, floats and decimals equal within 1e-6 relative.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import hashlib
import math
import os
import pickle
import uuid

import duckdb

from datagen import TABLES


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def wire(v):
    """A DuckDB (or collected Spark) cell as the service's JSON would carry it."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return str(v) if math.isnan(v) or math.isinf(v) else v
    if isinstance(v, _decimal.Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v.isoformat(sep=" ") + "+00"
        return v.isoformat(sep=" ")
    if isinstance(v, (_dt.date, _dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", errors="replace")
    if hasattr(v, "asDict"):  # a Spark Row (struct) is a tuple too
        return {k: wire(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [wire(x) for x in v]
    if isinstance(v, dict):
        return {str(k): wire(x) for k, x in v.items()}
    if isinstance(v, uuid.UUID):
        return str(v)
    return str(v)


def _norm(v):
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else v)
    if isinstance(v, str) and v.endswith("+00") and v[:4].isdigit():
        return ("str", v[:-3])  # tz suffix: instants compare in UTC
    if isinstance(v, list):
        return ("arr", tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, _norm(x)) for k, x in v.items())))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("f", float(v))  # DuckDB HUGEINT vs Spark DOUBLE sums
    return (type(v).__name__, v)


def _close(a, b) -> bool:
    if a == b:
        return True
    if a[0] == b[0] == "f":
        fa, fb = a[1], b[1]
        if isinstance(fa, str) or isinstance(fb, str):
            return False
        return abs(fa - fb) <= 1e-6 * max(1.0, abs(fa), abs(fb))
    if a[0] == b[0] == "arr":
        return len(a[1]) == len(b[1]) and all(_close(x, y) for x, y in zip(a[1], b[1]))
    return False


def canon(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    return [columns[i] for i in order], out


def expected(con, sql: str):
    """DuckDB's answer in canonical form."""
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return canon(cols, [[wire(v) for v in r] for r in res.fetchall()])


def expected_all(data_dir: str, sqls: dict[str, str]) -> dict:
    """DuckDB's answers for ``sqls`` over the tables in ``data_dir``. The
    tables are generated deterministically, so answers are kept in
    ``data_dir/answers`` keyed by the statement text and reused."""
    cache = os.path.join(data_dir, "answers")
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for name, sql in sqls.items():
        path = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[name] = pickle.load(f)
            continue
        con = con or connect(data_dir)
        out[name] = expected(con, sql)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(out[name], f)
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out


def mismatch(want, result: dict) -> str | None:
    """None when the service's ``result`` matches ``want``; else a reason."""
    cols, rows = canon(result["columns"], result["values"])
    wcols, wrows = want
    if len(rows) != len(wrows):
        return f"ROWCOUNT service={len(rows)} duckdb={len(wrows)}"
    if cols != wcols:
        return f"COLUMNS service={cols} duckdb={wcols}"
    for a, b in zip(rows, wrows):
        if len(a) != len(b) or not all(_close(x, y) for x, y in zip(a, b)):
            return f"VALUES service={a!r:.200} duckdb={b!r:.200}"
    return None


def corrupt(want):
    """A deliberately wrong expectation: one extra row."""
    cols, rows = want
    return cols, rows + [tuple(("str", "not-an-answer") for _ in cols)]
