"""Result digests, and the expected digest of each query from the registry's
DuckDB oracle.

A digest is (row count, sha256) over the rows normalized exactly as the
parity tests compare them (`tests.conftest._norm`): columns ordered by
lower-cased name, cells normalized, rows sorted by their string form. Two
engines that agree under `compare_frames` produce the same digest.
"""

from __future__ import annotations

import hashlib

from tests.conftest import _norm


def digest(columns: list[str], rows) -> list:
    """[row count, sha256 hex] of `rows` (tuples in `columns` order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    names = [columns[i].lower() for i in order]
    norm = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=str)
    h = hashlib.sha256(repr((names, norm)).encode())
    return [len(norm), h.hexdigest()]


def oracle_digests(data_dir: str, names: list[str]) -> dict[str, list]:
    """Run each query's oracle SQL over views of `data_dir`'s tables."""
    import duckdb

    from gpu_mapreduce_spark.registry import load_all
    from gpu_mapreduce_spark.sources.tables import TABLES

    reg = load_all()
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for name in names:
            sql = reg[name].oracle
            if sql is None:
                raise ValueError(f"{name} has no oracle; cannot check it")
            df = con.sql(sql.replace("{SF_DIR}", data_dir)).fetchdf()
            out[name] = digest(list(df.columns), df.itertuples(index=False))
        return out
    finally:
        con.close()
