"""Output correctness: an order-independent canonical digest of a table.

The canonical form follows ``tools/check.py``: columns sorted by name,
doubles rounded to 9 decimal places (NaN as NULL), dates and timestamps
as ISO text, integers of any width as integers. Rows are hashed one by
one and the hashes summed, so row order does not matter and duplicate
rows still count. DuckDB computes the digest for both sides: the parquet
a Spark operation wrote, and the DuckDB oracle SQL run on the same input.
"""
import hashlib
import os

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def connect(data_dir=None):
    """A DuckDB connection with each input table of ``data_dir`` as a view."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    if data_dir:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.isdir(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')")
            elif os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(e, t, depth=0):
    t = t.upper()
    if t.endswith("[]"):
        v = f"x{depth}"
        return f"list_transform({e}, {v} -> {_canon(v, t[:-2], depth + 1)})"
    if t in ("FLOAT", "DOUBLE", "REAL") or t.startswith("DECIMAL"):
        d = f"CAST({e} AS DOUBLE)"
        return f"(CASE WHEN isnan({d}) THEN NULL ELSE round({d}, 9) + 0.0 END)"
    if t == "BOOLEAN":
        return f"CAST({e} AS INTEGER)"
    if t.startswith("TIMESTAMP WITH TIME ZONE"):
        return f"strftime(timezone('UTC', {e}), '%Y-%m-%dT%H:%M:%S.%f')"
    if t.startswith("TIMESTAMP"):
        return f"strftime(CAST({e} AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S.%f')"
    return e


def digest(con, relation):
    """(row count, digest) of ``relation``, a SELECT statement."""
    cols = sorted((r[0], r[1]) for r in con.execute(f"DESCRIBE {relation}").fetchall())
    parts = ", ".join(
        f"coalesce(CAST({_canon(_q(n), t)} AS VARCHAR), chr(0))" for n, t in cols)
    row = f"concat_ws(chr(31), {parts})" if cols else "''"
    n, total = con.execute(
        f"SELECT count(*), coalesce(sum(md5_number_lower({row})), 0) FROM ({relation})").fetchone()
    names = ",".join(n for n, _ in cols)
    return int(n), hashlib.sha256(f"{names}:{int(total) % (1 << 64):016x}".encode()).hexdigest()[:20]


def digest_parquet(con, path):
    """Digest of a parquet file or a directory of part files."""
    src = f"{path}/*.parquet" if os.path.isdir(path) else path
    return digest(con, f"SELECT * FROM read_parquet('{src}')")


def _q(name):
    return '"' + name.replace('"', '""') + '"'
