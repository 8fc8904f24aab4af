"""Output checks, run after the timed passes.

Queries are compared with their registry DuckDB oracle through the
repo's own comparison helpers in ``tools/selfcheck.py``: the
engine-side aggregate digest where every column type allows it, the
canonical row multiset otherwise.
"""

from __future__ import annotations

import os


def duck_connect(sf_dir: str, threads: int, spill_dir: str | None = None):
    import duckdb

    from data_bridge_spark.catalog import TABLE_NAMES

    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='2GB'")
    if spill_dir:
        con.execute(f"SET temp_directory='{spill_dir}'")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    return con


def oracle_problems(con, sdf, oracle: str, cache: str | None = None) -> list[str]:
    """Empty list when ``sdf`` matches the oracle's result.

    ``cache`` names a parquet file holding the oracle's result from an
    earlier run over the same input bytes (the caller keys it by the
    inputs' content hash). It is written on first use, since some oracles
    (the unrolled iterative ones) cost more than the query they check."""
    from selfcheck import _DIGEST_OK_SPARK, RowDigest, sqldigest_compare

    if cache:
        if not os.path.exists(cache):
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            con.execute(f"COPY ({oracle}) TO '{cache}.tmp' (FORMAT PARQUET)")
            os.replace(cache + ".tmp", cache)
        oracle = f"SELECT * FROM read_parquet('{cache}')"
    if all(t.lower() in _DIGEST_OK_SPARK for _, t in sdf.dtypes):
        problems, _ = sqldigest_compare(con, sdf, oracle)
        return problems
    res = con.execute(oracle)
    ocols = [d[0] for d in res.description]
    if sorted(sdf.columns) != sorted(ocols):
        return [f"schema spark={sorted(sdf.columns)} oracle={sorted(ocols)}"]
    odig, sdig = RowDigest(ocols), RowDigest(sdf.columns)
    for r in res.fetchall():
        odig.add_row(r)
    for r in sdf.collect():
        sdig.add_row(tuple(r))
    if not sdig.matches(odig):
        return [f"values differ: spark {sdig.n} rows, oracle {odig.n} rows"]
    return []
