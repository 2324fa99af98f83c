"""Order-independent result hashes and the DuckDB oracle.

The hash protocol is the contract replay's pandas protocol: each cell
stringified (dates padded to midnight), columns sorted by name, rows
sorted, then sha256 over unit/record-separated rows.  A Spark frame
is hashed through ``toPandas()``, an oracle result through DuckDB's
``.df()``.
"""

from __future__ import annotations

import datetime
import hashlib
import os


def _cell(v) -> str:
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return f"{v.isoformat()} 00:00:00"
    return str(v)


def pandas_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    h.update("\x1f".join(cols).encode())
    h.update(b"\x1d")
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def frame_hash(df) -> str:
    """Hash of a Spark DataFrame's rows, independent of row order."""
    return pandas_hash(df.toPandas())


def oracle_hashes(sf_dir: str, names, tables) -> dict[str, str]:
    """Run each registry row's ``oracle_sql()`` mirror in DuckDB."""
    import duckdb

    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in tables:
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return {n: pandas_hash(con.execute(sqls[n]).df()) for n in names}
    finally:
        con.close()
